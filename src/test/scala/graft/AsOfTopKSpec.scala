package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AsOf
import graft.functions.TopK

class AsOfSpec extends AnyFunSuite with SparkTestBase {

  test("asof: latest right ≤ left, inclusive ties, null before first") {
    import spark.implicits._
    val left = Seq((1L, 5L, "l5"), (1L, 10L, "l10"), (1L, 2L, "l2"),
      (2L, 7L, "x")).toDF("k", "t", "lv")
    val right = Seq((1L, 3L, "r3"), (1L, 5L, "r5"), (1L, 9L, "r9"))
      .toDF("k", "t", "rv")
    val got = AsOf.asofJoin(left, right, "k", "t", "t")
      .select(col("lv"), col("asof_rv")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map(
      "l2" -> null, // no right row at or before t=2
      "l5" -> "r5", // inclusive: right at the same instant wins
      "l10" -> "r9", // latest of r3/r5/r9
      "x" -> null)) // key 2 has no right rows at all
  }

  test("asof output row count equals left row count (left join)") {
    val out = AsOf.eventsAsof(spark, sf)
    val purchases = {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      Tables(spark, sf, "events")
        .filter(col("event_type") === "purchase").count()
    }
    assert(out.count() == purchases)
  }
}

class TopKSpec extends AnyFunSuite with SparkTestBase {

  test("partial top-k equals sort-based top-k, ties broken by id") {
    import spark.implicits._
    val df = Seq(
      ("g1", 0.9, 1L), ("g1", 0.9, 2L), ("g1", 0.5, 3L), ("g1", 0.99, 4L),
      ("g2", 0.1, 9L))
      .toDF("g", "score", "id")
    val got = df.groupBy(col("g"))
      .agg(TopK.topk(3)(col("score"), col("id")).as("tk"))
      .select(col("g"), col("tk"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(s => (s.getDouble(0), s.getLong(1))))
      .toMap
    assert(got("g1") == Seq((0.99, 4L), (0.9, 1L), (0.9, 2L)))
    assert(got("g2") == Seq((0.1, 9L))) // k larger than the group
  }

  test("merge across partitions keeps global order") {
    import spark.implicits._
    val n = 5000
    val df = (1 to n).map(i => ("g", (i % 997).toDouble, i.toLong))
      .toDF("g", "score", "id").repartition(13)
    val top = df.groupBy(col("g"))
      .agg(TopK.topk(5)(col("score"), col("id")).as("tk"))
      .select(explode(col("tk")).as("s"))
      .select(col("s.score"), col("s.id")).as[(Double, Long)].collect()
    // max score 996 occurs at ids 996, 1993, 2990, 3987, 4984 → top-5
    assert(top.toSeq == Seq((996.0, 996L), (996.0, 1993L), (996.0, 2990L),
      (996.0, 3987L), (996.0, 4984L)))
  }
}

class UploaderFormatSpec extends AnyFunSuite with SparkTestBase {
  import java.nio.file.{Files, Paths}
  import graft.catalog.GraftDatabase
  import graft.sources.CsvUploader

  test("tab-delimited upload (explicit and A16-sniffed)") {
    val dir = scratch("tsv")
    val db = GraftDatabase(spark, s"$dir/db")
    Files.write(Paths.get(s"$dir/in.tsv"), "name\tage\nCleo\t5".getBytes)
    CsvUploader.upload(db, s"$dir/in.tsv", Some("t"),
      delimiter = Some("\t"))
    val df = db.read("t")
    assert(df.columns.toSeq == Seq("name", "age"))
    assert(df.schema("age").dataType.simpleString == "bigint")
    // same file, no delimiter named: the sniffer must find the tab
    CsvUploader.upload(db, s"$dir/in.tsv", Some("t2"))
    assert(db.read("t2").columns.toSeq == Seq("name", "age"))
    assert(db.read("t2").schema("age").dataType.simpleString == "bigint")
  }

  test("A16: delimiter sniffing votes by quote-aware field consistency") {
    import CsvUploader.sniffDelimiter
    assert(sniffDelimiter("a,b,c\n1,2,3\n4,5,6", truncated = false) == ",")
    assert(sniffDelimiter("a\tb\n1\t2\n3\t4", truncated = false) == "\t")
    assert(sniffDelimiter("a;b;c\n1;2;3", truncated = false) == ";")
    assert(sniffDelimiter("a|b\n1|2", truncated = false) == "|")
    // quoted delimiters are literal: the comma wins though every
    // record also carries semicolons inside quotes
    assert(sniffDelimiter(
      "x,y\n\"a; b; c\",1\n\"d; e; f\",2", truncated = false) == ",")
    // single column / no delimiter at all → default comma
    assert(sniffDelimiter("one\n1\n2", truncated = false) == ",")
    // header-only window (one record) → default comma
    assert(sniffDelimiter("a;b;c", truncated = false) == ",")
    // ragged counts qualify no candidate → default comma
    assert(sniffDelimiter("a;b\n1\n2;3;4\n5", truncated = false) == ",")
    // truncated window drops the cut final record before voting
    assert(sniffDelimiter("a;b\n1;2\n3;4\n5;6;7;8;9;1", truncated = true)
      == ";")
  }

  test("A16: the delimiter sniff hands back the winning candidate's window scan") {
    import CsvUploader.{scanWindow, sniffDelimiterScan}
    for (text <- Seq("a,b,c\n1,2,3", "a;b\n\"x\ny\";2\n3;4", "one\n1\n2",
        "a;b\n1\n2;3;4\n5")) {
      val (d, scan) = sniffDelimiterScan(text, truncated = false)
      assert(scan == scanWindow(text, d.head), text)
    }
  }

  test("A17: fixed-width upload — trim, null-fill, typed inference") {
    import graft.sources.FixedWidthUploader
    val dir = scratch("fw")
    val db = GraftDatabase(spark, s"$dir/db")
    // widths: id=4 (right-aligned), name=8 (left-aligned), amt=6
    val body =
      "   1Cleo        5\n" +
      "  22Pancakes 1250\n" +
      " 333短い       -7\n" +  // multibyte text inside a width
      "4444Tail\n" // short record: amt null-fills
    Files.write(Paths.get(s"$dir/ledger.dat"), body.getBytes("UTF-8"))
    val res = FixedWidthUploader.upload(db, s"$dir/ledger.dat",
      Seq(("id", 4), ("name", 8), ("amt", 6)), Some("ledger"))
    assert(res.error.isEmpty, res.error)
    val df = db.read("ledger")
    assert(df.schema("id").dataType.simpleString == "bigint")
    assert(df.schema("amt").dataType.simpleString == "bigint")
    val rows = df.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2))))
    assert(rows.toSeq == Seq(
      (1L, "Cleo", Some(5L)), (22L, "Pancakes", Some(1250L)),
      (333L, "短い", Some(-7L)), (4444L, "Tail", None)))
  }

  test("A17: EBCDIC cp037 fixed-width ledger decodes end to end") {
    import graft.sources.FixedWidthUploader
    val dir = scratch("fw_ebcdic")
    val db = GraftDatabase(spark, s"$dir/db")
    // the mainframe shape: cp037 bytes, NL (0x15) record terminators
    // (Java's IBM037 encodes '\n' to 0x15)
    // columns: id(4) tag(8) qty(3) — "alpha"+3 pad, "beta"+4 pad
    val body = "   7alpha    42\n  88beta    100\n"
    Files.write(Paths.get(s"$dir/mf.dat"),
      body.getBytes(java.nio.charset.Charset.forName("IBM037")))
    val res = FixedWidthUploader.upload(db, s"$dir/mf.dat",
      Seq(("id", 4), ("tag", 8), ("qty", 3)), Some("mf"))
    assert(res.error.isEmpty, res.error)
    assert(res.encoding == "IBM037")
    val rows = db.read("mf").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq((7L, "alpha", 42L), (88L, "beta", 100L)))
  }

  test("schema evolution unions headers in first-seen order") {
    val dir = scratch("evolve_spec")
    val db = GraftDatabase(spark, s"$dir/db")
    Files.createDirectories(Paths.get(s"$dir/in"))
    Files.write(Paths.get(s"$dir/in/a.csv"), "a,b\n1,x".getBytes)
    Files.write(Paths.get(s"$dir/in/b.csv"), "b,c\ny,2".getBytes)
    CsvUploader.upload(db, s"$dir/in", Some("t"), alter = true)
    val df = db.read("t")
    assert(df.columns.toSeq == Seq("a", "b", "c"))
    val rows = df.orderBy("b").collect()
      .map(r => (Option(r.get(0)), r.getString(1), Option(r.get(2))))
    assert(rows.toSeq == Seq((Some(1L), "x", None), (None, "y", Some(2L))))
  }
}

class HeavyHittersSpec extends AnyFunSuite with SparkTestBase {

  test("misra-gries: guarantee holds on a skewed stream, counts bounded") {
    import spark.implicits._
    import graft.functions.HeavyHitters
    // zipf-flavored: item i appears 20000/i times for i in 1..50,
    // plus 30000 singletons of noise — n ≈ 120k, k = 32 ⇒ threshold
    // n/(k+1) ≈ 3.6k: items 1..5 are guaranteed; noise must not
    // displace them
    val heavy = (1 to 50).flatMap(i =>
      Seq.fill(20000 / i)(s"item$i"))
    val noise = (0 until 30000).map(j => s"noise$j")
    val rows = (heavy ++ noise).zipWithIndex
      // deterministic interleave so heavy items aren't contiguous
      .sortBy { case (_, idx) => (idx * 2654435761L) & 0xffffffffL }
      .map(_._1)
    val n = rows.size.toLong
    val k = 32
    val got = rows.toDF("key").repartition(8)
      .agg(HeavyHitters.heavyHitters(k)(col("key")).as("hh"))
      .select(explode(col("hh")).as("s"))
      .select(col("s.key"), col("s.count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size <= k)
    val exact = rows.groupBy(identity).map { case (key, g) =>
      key -> g.size.toLong }
    val threshold = n / (k + 1)
    // every guaranteed-heavy item is present
    for ((key, c) <- exact if c > threshold)
      assert(got.contains(key), s"$key (freq=$c > $threshold) missing")
    // every reported count under-estimates by at most n/(k+1)
    for ((key, est) <- got) {
      val truth = exact(key)
      assert(est <= truth, s"$key over-estimated: $est > $truth")
      assert(truth - est <= threshold,
        s"$key error ${truth - est} above the n/(k+1)=$threshold bound")
    }
    // two-pass composition: exact recount of candidates ranks the
    // true top items exactly
    val candidates = got.keySet
    val recounted = exact.filter { case (key, _) =>
      candidates.contains(key) }
    val top5 = recounted.toSeq.sortBy { case (key, c) => (-c, key) }
      .take(5).map(_._1)
    assert(top5 == (1 to 5).map(i => s"item$i"))
  }

  test("weighted misra-gries: guarantees hold with n = total weight") {
    import spark.implicits._
    import graft.functions.HeavyHitters
    // the same zipf stream, pre-folded into (key, weight) rows the
    // way TermCounts feeds it: item i as ceil(20000/i / 7) rows of
    // weight ≤ 7 (simulating per-doc tf), noise as weight-1 rows
    val rows = (1 to 50).flatMap { i =>
      val total = 20000 / i
      (0 until total by 7).map(off =>
        (s"item$i", math.min(7, total - off).toLong))
    } ++ (0 until 30000).map(j => (s"noise$j", 1L))
    val shuffled = rows.zipWithIndex
      .sortBy { case (_, idx) => (idx * 2654435761L) & 0xffffffffL }
      .map(_._1)
    val n = shuffled.map(_._2).sum
    val k = 32
    val got = shuffled.toDF("key", "w").repartition(8)
      .agg(HeavyHitters.heavyHittersWeighted(k)(col("key"), col("w"))
        .as("hh"))
      .select(explode(col("hh")).as("s"))
      .select(col("s.key"), col("s.count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size <= k)
    val exact = rows.groupBy(_._1).map { case (key, g) =>
      key -> g.map(_._2).sum }
    val threshold = n / (k + 1)
    for ((key, c) <- exact if c > threshold)
      assert(got.contains(key), s"$key (weight=$c > $threshold) missing")
    for ((key, est) <- got) {
      val truth = exact(key)
      assert(est <= truth, s"$key over-estimated: $est > $truth")
      assert(truth - est <= threshold,
        s"$key error ${truth - est} above the n/(k+1)=$threshold bound")
    }
  }

  test("weighted misra-gries: zero weights are no-ops, negatives fail loud") {
    import spark.implicits._
    import graft.functions.HeavyHitters
    val got = Seq(("a", 5L), ("b", 0L), ("a", 3L), ("c", 2L), ("b", 0L))
      .toDF("key", "w")
      .agg(HeavyHitters.heavyHittersWeighted(4)(col("key"), col("w"))
        .as("hh"))
      .select(explode(col("hh")).as("s"))
      .select(col("s.key"), col("s.count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // zero-weight rows never occupy a summary slot
    assert(got == Map("a" -> 8L, "c" -> 2L))
    val ex = intercept[Exception] {
      Seq(("a", -1L)).toDF("key", "w")
        .agg(HeavyHitters.heavyHittersWeighted(4)(col("key"), col("w")))
        .collect()
    }
    assert(ex.getMessage != null)
  }

  test("E15b query: MG + exact recount equals the exact vocabulary") {
    import spark.implicits._
    import graft.operators.TextQueries
    // Zipf-ish corpus: term i rides 400/i documents; every top-8 term
    // clears n/(k+1) by a wide margin at k=64, so the approx query's
    // exactness contract applies and the two results must be EQUAL,
    // ids and counts included
    val docs = (1 to 60).flatMap { i =>
      (0 until math.max(1, 400 / i)).map(j =>
        (i.toLong * 1000 + j, s"term$i filler${(i * 31 + j) % 97}"))
    }.toDF("doc_id", "text").repartition(8)
    val exact = TextQueries.vocabularyOf(docs, 8)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val approx = TextQueries.vocabularyApproxOf(docs, 8, 64)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(approx.toSeq == exact.toSeq)
    // degenerate corpus (fewer distinct terms than the cap): both
    // sides return the full inventory, still equal
    val tiny = Seq((1L, "a b a"), (2L, "b c b")).toDF("doc_id", "text")
    assert(TextQueries.vocabularyApproxOf(tiny, 8, 8).collect().toSeq ==
      TextQueries.vocabularyOf(tiny, 8).collect().toSeq)
  }
}
