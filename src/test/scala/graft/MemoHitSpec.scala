package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.GraftDatabase
import graft.operators.{LanguageModel, Pipeline}

/** Job counts on the memoized served paths: constructing a served LM
  * or Moore-Lewis scorer over an unchanged artifact launches no job,
  * a rebuild launches the model's `take` again, and the shard
  * manifest reuses the shuffle order's rank.
  */
class MemoHitSpec extends AnyFunSuite with SparkTestBase {

  test("served LM: a repeat construction launches no job, a rebuild takes again") {
    val db = GraftDatabase(spark, scratch("memo_hit_lm") + "/db")
    val docs = Tables(spark, sf, "documents")
    val held = docs.filter(col("doc_id") % 5 === 0)
    LanguageModel.buildLmModel(db, docs.filter(col("doc_id") % 5 =!= 0), "lm")
    val (_, first) =
      jobsLaunchedBy(LanguageModel.perplexityFromModel(db, "lm", held))
    assert(first > 0, "the first construction runs the model's take")
    val (_, again) =
      jobsLaunchedBy(LanguageModel.perplexityFromModel(db, "lm", held))
    assert(again == 0, s"a repeat construction launched $again job(s)")
    LanguageModel.buildLmModel(db, held, "lm")
    val (_, rebuilt) =
      jobsLaunchedBy(LanguageModel.perplexityFromModel(db, "lm", held))
    assert(rebuilt > 0, "a rebuilt model must be taken again")
  }

  test("served Moore-Lewis: a repeat construction launches no job, a rebuild takes again") {
    val db = GraftDatabase(spark, scratch("memo_hit_ml") + "/db")
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val ids = docs.select(col("doc_id"), col("text"))
    LanguageModel.buildMlModel(db, docs, "ml")
    val (_, first) =
      jobsLaunchedBy(LanguageModel.mooreLewisFromModel(db, "ml", ids))
    assert(first > 0, "the first construction runs the model's take")
    val (_, again) =
      jobsLaunchedBy(LanguageModel.mooreLewisFromModel(db, "ml", ids))
    assert(again == 0, s"a repeat construction launched $again job(s)")
    LanguageModel.buildMlModel(db, docs, "ml", targetSrcs = Seq("src0"))
    val (_, rebuilt) =
      jobsLaunchedBy(LanguageModel.mooreLewisFromModel(db, "ml", ids))
    assert(rebuilt > 0, "a rebuilt model must be taken again")
  }

  test("shardManifest after shuffleOrder on one corpus re-runs no rank job") {
    import spark.implicits._
    val dir = scratch("memo_hit_shards")
    (1L to 300L).map(i => (i, s"doc $i", i % 17))
      .toDF("doc_id", "text", "n_chars")
      .repartition(3).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/documents.parquet")
    val (order, ranked) = jobsLaunchedBy(Pipeline.shuffleOrder(spark, dir))
    assert(ranked > 0, "the shuffle order folds its rank offsets")
    val (manifest, reused) =
      jobsLaunchedBy(Pipeline.shardManifest(spark, dir, 64))
    assert(reused == 0, s"shardManifest launched $reused job(s)")
    val shards = manifest.collect()
    assert(shards.map(_.getLong(1)).sum == 300L)
    assert(order.count() == 300L)
  }
}
