package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.canon.UrlCanon
import graft.parse.{HtmlSpans, TrimHtml}
import graft.polite.Robots
import graft.seen.BloomFilter

class CanonSpec extends SparkSuite {
  test("canonicalize: case, ports, fragments, query sort, trailing slash") {
    assert(UrlCanon.canonicalize("HTTP://Host-1.TEST:80/a/b/") == "http://host-1.test/a/b")
    assert(UrlCanon.canonicalize("https://h.test:443/x#frag") == "https://h.test/x")
    assert(UrlCanon.canonicalize("https://h.test/x?b=2&a=1") == "https://h.test/x?a=1&b=2")
    assert(UrlCanon.canonicalize("https://h.test") == "https://h.test/")
    assert(UrlCanon.canonicalize("https://h.test:8443/x") == "https://h.test:8443/x")
    // bare params stay bare, even when another key has them as a suffix
    assert(UrlCanon.canonicalize("https://h.test/p?flag&xflag=1") ==
      "https://h.test/p?flag&xflag=1")
    assert(UrlCanon.canonicalize("https://h.test/p?a&a=1") ==
      "https://h.test/p?a&a=1")
  }
  test("canonicalize is idempotent") {
    val urls = Seq("https://A.b:443/p/?z=9&a=1#f", "http://x.y:80//",
                   "https://h.test/item/a-iid-5")
    urls.foreach { u =>
      val c = UrlCanon.canonicalize(u)
      assert(UrlCanon.canonicalize(c) == c)
    }
  }
  test("sha256 matches a known vector") {
    assert(UrlCanon.sha256Hex("abc") ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
  }
  test("spark sha2 column equals scala sha256Hex") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val urls = Seq("https://h.test/a", "https://h.test/b?x=1").toDF("url")
    val got = urls.select(UrlCanon.sha256HexCol(col("url"))).as[String].collect()
    assert(got.toSeq == Seq(UrlCanon.sha256Hex("https://h.test/a"),
                            UrlCanon.sha256Hex("https://h.test/b?x=1")))
  }
}

class TrimHtmlSpec extends SparkSuite {
  test("five-pass semantics on a golden example") {
    val html = "<DIV>Hello  <B>world</B></DIV><STYLE>p{}</STYLE><Script>var x;</Script>  tail"
    assert(TrimHtml(html) == "Hello\nworld\ntail")
  }
  test("pass order: uppercase style/script blocks are removed") {
    assert(TrimHtml("<STYLE type=x>junk</STYLE>keep") == "keep")
    assert(TrimHtml("<SCRIPT>junk</SCRIPT>keep") == "keep")
  }
  test("idempotence and no surviving tags (property)") {
    val tag = Gen.oneOf("<p>", "</p>", "<B>", "<style>x</style>", "<script>y</script>")
    val txt = Gen.alphaNumStr.map(_.take(8))
    val piece = Gen.oneOf(tag, txt, Gen.const("  "), Gen.const("\n"))
    val doc = Gen.listOfN(24, piece).map(_.mkString)
    (0 until 300).foreach { i =>
      val d = doc.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val t = TrimHtml(d)
      assert(TrimHtml(t) == t, s"idempotence broken for: $d")
      assert(!t.matches("(?s).*<[^>]*>.*"), s"tags survive in: $t")
    }
  }
  test("catalyst expression equals scala function and stays in codegen") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq("<p>a  b</p><script>s</script>", "plain", "<DIV>X</DIV>").toDF("h")
    val got = rows.select(TrimHtml.trim_html(col("h")).as("t")).as[String].collect()
    assert(got.toSeq == Seq("a\nb", "plain", "X"))
    // range is a codegen-able source: the projection containing trim_html
    // must fuse into the WholeStageCodegen span, not fall back
    val plan = spark.range(10)
      .select(TrimHtml.trim_html(concat(lit("<p>"), col("id"), lit("</p>"))))
      .queryExecution.executedPlan.toString
    // "*(1)" marks a WholeStageCodegen span in executedPlan.toString
    assert(plan.contains("*(1) Project"), s"trim_html must stay codegen'd:\n$plan")
  }
}

class HtmlSpansSpec extends SparkSuite {
  test("interleaved extraction: text, link, image, video, script") {
    val html =
      """<html><body><h1>Title  here</h1><p>para one</p>
        |<a href="/next">go next</a><img src="/i.jpg" alt="pic">
        |<video src="/v.mp4"></video>
        |<script id="__NEXT_DATA__">{"a":1}</script></body></html>""".stripMargin
    val p = HtmlSpans.parse("https://h.test/base", html)
    val kinds = p.spans.map(_.kind)
    assert(kinds == Vector("text", "link", "image", "video"))
    assert(p.spans.map(_.offset) == Vector(0, 1, 2, 3))
    assert(p.spans(0).text == "Title\nhere\npara one")
    assert(p.spans(1) .media_ref == "https://h.test/next")
    assert(p.spans(1).text == "go next")
    assert(p.spans(2).media_ref == "https://h.test/i.jpg")
    assert(p.spans(2).text == "pic")
    assert(p.links == Vector("https://h.test/next"))
    assert(p.scripts.size == 1 && p.scripts.head._1("id") == "__NEXT_DATA__")
    assert(p.scripts.head._2 == """{"a":1}""")
  }
  test("url resolution forms") {
    assert(HtmlSpans.resolveUrl("https://h.test/a/b", "c") == "https://h.test/a/c")
    assert(HtmlSpans.resolveUrl("https://h.test/a", "//x.test/y") == "https://x.test/y")
    assert(HtmlSpans.resolveUrl("https://h.test/a", "/y") == "https://h.test/y")
    assert(HtmlSpans.resolveUrl("https://h.test/a", "https://z.test/") == "https://z.test/")
  }
}

class FiltersSpec extends SparkSuite {
  private def hashes(n: Int, tag: String): Seq[String] =
    (0 until n).map(i => UrlCanon.sha256Hex(s"$tag-$i"))

  test("bloom: no false negatives; fpp in range; merge; serde") {
    val in = hashes(5000, "in")
    val out = hashes(5000, "out")
    val bf = BloomFilter.sized(5000, 0.01)
    in.foreach(bf.put)
    assert(in.forall(bf.mightContain), "no false negatives")
    val fpp = out.count(bf.mightContain).toDouble / out.size
    assert(fpp < 0.05, s"fpp too high: $fpp")
    val b2 = BloomFilter.deserialize(bf.serialize())
    assert(in.forall(b2.mightContain) && b2.itemCount == 5000)
    val half1 = BloomFilter.sized(5000, 0.01); in.take(2500).foreach(half1.put)
    val half2 = BloomFilter.sized(5000, 0.01)
    // merge requires identical sizing
    val h2 = new BloomFilter(half1.numBits, half1.numHashes)
    in.drop(2500).foreach(h2.put)
    val m = new BloomFilter(half1.numBits, half1.numHashes).merge(half1).merge(h2)
    assert(in.forall(m.mightContain))
  }
}

class FrontierStoreSpec extends SparkSuite {
  import graft.model.FrontierEntry
  import graft.store.FrontierStore

  private def entry(seed: Long): FrontierEntry = {
    val rng = new scala.util.Random(seed)
    val host = s"host-${rng.nextInt(50)}.test"
    val url = s"https://$host/item/x-iid-${rng.nextLong().abs}"
    FrontierEntry(url, UrlCanon.urlHash(url), host,
                  UrlCanon.hostHash(host), rng.nextInt(8), rng.nextInt(3),
                  rng.nextLong().abs, rng.nextInt(4), rng.nextInt(20))
  }

  test("serde round-trip is exact and canonical (set -> same bytes)") {
    val entries = (0L until 500L).map(entry).distinctBy(_.url_hash).toArray
    val bytes = FrontierStore.serialize(entries)
    val back = FrontierStore.deserialize(bytes)
    assert(back.sortBy(_.url_hash).toSeq == entries.sortBy(_.url_hash).toSeq)
    // byte output is a pure function of the SET (order-independent) —
    // what makes speculative duplicate writes idempotent
    val shuffled = scala.util.Random.shuffle(entries.toSeq).toArray
    assert(java.util.Arrays.equals(bytes, FrontierStore.serialize(shuffled)))
    assert(FrontierStore.deserialize(
      FrontierStore.serialize(Array.empty)).isEmpty)
    intercept[IllegalArgumentException] {
      FrontierStore.deserialize("garbage-bytes-here".getBytes)
    }
  }
}

class SeenIndexSpec extends SparkSuite {
  import graft.seen.SeenIndex
  private def hex(seed: Long): String =
    graft.canon.UrlCanon.urlHash(s"https://x.test/$seed")

  test("exact membership: adds, removes, dedup, serde, vs a Set") {
    val hashes = (0L until 500L).map(hex)
    val idx = SeenIndex.fromHex(hashes ++ hashes.take(50)) // dups collapse
    assert(idx.size == 500)
    hashes.foreach(h => assert(idx.contains(h)))
    (500L until 600L).map(hex).foreach(h => assert(!idx.contains(h)))
    // serde round-trip
    val rt = SeenIndex.deserialize(idx.serialize())
    assert(rt.size == 500 && hashes.forall(rt.contains))
    // removal
    val removed = SeenIndex.merged(Seq(idx), hashes.take(100))
    assert(removed.size == 400)
    hashes.take(100).foreach(h => assert(!removed.contains(h)))
    hashes.drop(100).foreach(h => assert(removed.contains(h)))
    // incremental update equals one-shot build
    val inc = hashes.grouped(100).foldLeft(SeenIndex.empty)((a, g) =>
      SeenIndex.merged(Seq(a, SeenIndex.fromHex(g))))
    assert(java.util.Arrays.equals(inc.serialize(), idx.serialize()))
  }

  test("merged(segments, removes) equals the set model (LSM contract)") {
    val rng = new scala.util.Random(7)
    (0 until 20).foreach { _ =>
      // random delta segments of random sizes, possibly overlapping
      val segHexes = Vector.fill(1 + rng.nextInt(5)) {
        (0 until rng.nextInt(80)).map(_ => hex(rng.nextInt(300).toLong))
      }
      val segs = segHexes.map(SeenIndex.fromHex)
      val removes = (0 until rng.nextInt(20)).map(_ => hex(rng.nextInt(300).toLong))
      val got = SeenIndex.merged(segs, removes)
      val model: Set[String] = segHexes.flatten.toSet -- removes.toSet
      assert(got.size == model.size)
      model.foreach(h => assert(got.contains(h)))
      removes.foreach(h => assert(!got.contains(h)))
      // merged bytes are canonical: merging in any segment order is equal
      val got2 = SeenIndex.merged(rng.shuffle(segs), removes)
      assert(java.util.Arrays.equals(got.serialize(), got2.serialize()))
      // probing segments individually equals probing the merge
      model.foreach(h => assert(segs.exists(_.contains(h))))
    }
  }

  test("merged skips empty segments and writes a key held by several segments once") {
    val hs = (0L until 60L).map(hex)
    val segHexes = Seq(hs.take(30), Nil, hs.slice(20, 50), hs.slice(10, 25), Nil, hs.drop(45))
    val removes = Seq(hs(0), hs(22), hs(59), hex(1000L))
    val model = segHexes.flatten.toSet -- removes
    val got = SeenIndex.merged(segHexes.map(SeenIndex.fromHex), removes)
    assert(got.size == model.size)
    assert(java.util.Arrays.equals(got.serialize(), SeenIndex.fromHex(model).serialize()))
    assert(SeenIndex.merged(Seq(SeenIndex.empty, SeenIndex.empty)).size == 0)
  }
}

class FilterShardCacheSpec extends SparkSuite {
  import graft.store.Snapshots

  test("LRU eviction: bound holds, hot entries survive, evicted reload") {
    val root = tmpDir("shard-lru-")
    val mkShard = (b: Int) => {
      val bf = new BloomFilter(1 << 10, 3)
      bf.put(UrlCanon.sha256Hex(s"u-$b"))
      Snapshots.writeBytesAt(Snapshots.bloomShardPathAt(root, 1, b), bf.serialize())
    }
    (0 until 6).foreach(mkShard)
    // private instance: the global cache is shared with concurrently
    // running crawl suites and must not be perturbed from a test
    val lru = new graft.sched.ShardLru(4)
    (0 until 6).foreach(b => assert(lru.bloom(root, 1, b).isDefined))
    assert(lru.cachedCount <= 4, "LRU bound enforced")
    // keep bucket 2 hot, then load fresh buckets: 2 must survive and
    // an evicted bucket must still answer correctly via reload
    assert(lru.bloom(root, 1, 2).isDefined)
    (6 until 8).foreach(mkShard)
    (6 until 8).foreach(b => assert(lru.bloom(root, 1, b).isDefined))
    val hot = lru.bloom(root, 1, 2).get
    assert(hot.mightContain(UrlCanon.sha256Hex("u-2")))
    val reloaded = lru.bloom(root, 1, 0).get
    assert(reloaded.mightContain(UrlCanon.sha256Hex("u-0")))
    assert(lru.cachedCount <= 4)
  }
}

class RobotsSpec extends SparkSuite {
  test("parse + allowed") {
    val r = Robots.parse("h.test", "User-agent: *\nDisallow: /private/\nDisallow: /tmp\n")
    assert(r.disallow_prefixes == Seq("/private/", "/tmp"))
    assert(!Robots.allowed("https://h.test/private/x", r.disallow_prefixes))
    assert(!Robots.allowed("https://h.test/tmpfile", r.disallow_prefixes))
    assert(Robots.allowed("https://h.test/public", r.disallow_prefixes))
    val other = Robots.parse("h.test", "User-agent: Bot\nDisallow: /\n")
    assert(other.disallow_prefixes.isEmpty, "non-* groups ignored")
  }
}
