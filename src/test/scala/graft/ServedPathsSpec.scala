package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.GraftDatabase
import graft.operators.{Dedup, Pipeline, TextIndex}

/** The text index and the split artifact as served artifacts: each
  * served answer must equal the same query over an artifact built
  * directly into its own test db, across same-named artifact dbs,
  * build parameters, corpus swaps and unlistable corpora.
  */
class ServedPathsSpec extends AnyFunSuite with SparkTestBase {

  private def writeDocs(dir: String, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    docs.map { case (id, t) => (id, s"src${id % 3}", t) }
      .toDF("doc_id", "source", "text")
      .repartition(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/documents.parquet")
  }

  private def andRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def servedAnd(dir: String): Set[(Long, Long)] =
    andRows(TextIndex.queries("text_search_and")(spark, dir))

  private def directAnd(dir: String, name: String): Set[(Long, Long)] = {
    val db = GraftDatabase(spark, scratch(name))
    TextIndex.buildIndex(db, "idx",
      Tables(spark, dir, "documents").select("doc_id", "text"), 4)
    andRows(TextIndex.searchAll(db, "idx", Seq("batch", "merge")))
  }

  test("two served text indexes keep their own bucketed tables in the session catalog") {
    val a = scratch("served_text_a")
    val b = scratch("served_text_b")
    writeDocs(a, Seq(1L -> "batch merge merge", 2L -> "batch only",
      3L -> "merge then batch"))
    writeDocs(b, Seq(1L -> "nothing here", 7L -> "batch merge",
      8L -> "merge batch batch batch"))
    val a1 = servedAnd(a)
    val b1 = servedAnd(b)
    val a2 = servedAnd(a)
    assert(a1 == a2, s"A re-served as $a2 after B, first $a1")
    assert(a1 == directAnd(a, "served_text_a_direct"))
    assert(b1 == directAnd(b, "served_text_b_direct"))
    assert(a1 != b1)
  }

  test("a text-index corpus swapped with the same row count is re-served from the new content") {
    val dir = scratch("served_text_swap")
    writeDocs(dir, Seq(1L -> "batch merge", 2L -> "batch", 3L -> "merge"))
    val before = servedAnd(dir)
    assert(before == Set((1L, 2L)))
    writeDocs(dir, Seq(1L -> "batch", 2L -> "merge batch batch",
      3L -> "merge merge batch"))
    val after = servedAnd(dir)
    assert(after == directAnd(dir, "served_text_swap_direct"),
      s"served $after after the swap")
    assert(after == Set((2L, 3L), (3L, 3L)))
  }

  // 400 docs of 30 distinct random words; every multiple of 10 is a
  // verbatim copy of its successor, so under newMod = 10 each batch
  // doc's only index match is that successor's own cluster
  private def splitCorpus(dir: String, seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val texts = (1L to 401L).map(i =>
      i -> Seq.fill(30)(s"w${rnd.nextInt(1000000)}").mkString(" ")).toMap
    writeDocs(dir, (1L to 400L).map(i =>
      i -> texts(if (i % 10 == 0) i + 1 else i)))
  }

  private def splitRows(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** The C40c artifact pair built directly over the doc_id % newMod
    * != 0 remainder, serving the doc_id % newMod = 0 batch. */
  private def directSplit(dir: String, newMod: Int,
      name: String): Map[Long, String] = {
    val docs = Tables(spark, dir, "documents")
    val isNew = col("doc_id") % newMod === 0
    val old = docs.filter(!isNew)
    val db = GraftDatabase(spark, scratch(name))
    Dedup.buildWinnowIndex(db, old.select("doc_id", "text"), "corpus")
    db.write(Pipeline.leakageSafeSplitOf(old), "corpus_split")
    splitRows(Pipeline.splitAssignServed(db, "corpus",
      docs.filter(isNew).select("doc_id", "text")))
  }

  test("split artifacts for two newMod values are served side by side") {
    val dir = scratch("served_split_mod")
    splitCorpus(dir, 1)
    val by20 = splitRows(Pipeline.splitAssignServedForDir(spark, dir, 20))
    val by10 = splitRows(Pipeline.splitAssignServedForDir(spark, dir, 10))
    assert(by10 == directSplit(dir, 10, "served_split_mod_direct"),
      "newMod = 10 served from an artifact that indexes its own batch")
    assert(splitRows(Pipeline.splitAssignServedForDir(spark, dir, 20)) == by20)
  }

  test("split artifacts of same-named corpora under different parents stay isolated") {
    val a = scratch("served_split_iso_a") + "/corpus"
    val b = scratch("served_split_iso_b") + "/corpus"
    splitCorpus(a, 2)
    splitCorpus(b, 3)
    val a1 = splitRows(Pipeline.splitAssignServedForDir(spark, a))
    val b1 = splitRows(Pipeline.splitAssignServedForDir(spark, b))
    val a2 = splitRows(Pipeline.splitAssignServedForDir(spark, a))
    assert(a1 == a2, "A re-served from another corpus's artifact")
    assert(a1 == directSplit(a, 20, "served_split_iso_a_direct"))
    assert(b1 == directSplit(b, 20, "served_split_iso_b_direct"))
  }

  test("an unlistable corpus fails the split serve loudly and leaves nothing cached") {
    val dir = scratch("served_split_unlistable")
    val e = intercept[IllegalStateException](
      Pipeline.splitAssignServedForDir(spark, dir))
    assert(e.getMessage.contains("not listable"), e.getMessage)
    splitCorpus(dir, 4)
    assert(splitRows(Pipeline.splitAssignServedForDir(spark, dir)) ==
      directSplit(dir, 20, "served_split_unlistable_direct"))
  }
}
