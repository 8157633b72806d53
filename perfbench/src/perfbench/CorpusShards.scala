package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.catalog.GraftDatabase
import graft.operators.Pipeline

/** corpus_shards: raw documents to training shards —
  * `Pipeline.cleanCorpus` → kept docs materialized →
  * `Pipeline.leakageSafeSplitOf` → `Pipeline.packSequences` on the
  * train split → `Pipeline.shardManifest`, every step written as
  * parquet. One request is one whole flow. */
final class CorpusShards(c: Ctx) extends Workload(c) {
  def requests: Int = 1
  private val corpus = ctx.manifest.get("dir").asText
  private val nDocs = ctx.manifest.get("n_docs").asLong

  private case class Flow(i: Int, s: Double, steps: Map[String, Double],
      dir: String)
  private val flows = mutable.ArrayBuffer[Flow]()

  override def oracles: Map[String, String] =
    Pipeline.oracles.filter { case (k, _) => Set("pipeline_clean_corpus",
      "pipeline_split_leakage_safe", "pipeline_pack",
      "pipeline_shard_manifest").contains(k) }

  /** Set-up is reading the corpus footers the flow plans against. */
  def setup(): Unit =
    spark.read.parquet(s"$corpus/documents.parquet").count()

  /** None: a corpus build runs once per process, so the measured
    * flow pays the engine's cold start like a real one does. */
  def warmup(): Unit = ()

  def request(i: Int): Unit = {
    attempt("flow") {
      val dir = s"${ctx.work}/flow_$i"
      val (steps, s) = secondsOf(runFlow(dir))
      flows += Flow(i, s, steps, dir)
    }
  }

  /** Step name -> seconds. Step outputs land under `dir`: clean/,
    * kept/documents.parquet, split/, train/documents.parquet, pack/,
    * manifest/. */
  private def runFlow(dir: String): Map[String, Double] = {
    rmTree(dir)
    val db = GraftDatabase(spark, dir)
    val steps = mutable.LinkedHashMap[String, Double]()
    def step(name: String, layer: String)(body: => Unit): Unit =
      steps(name) = secondsOf(tracer.span(s"corpus.$name", layer)(body))._2
    step("clean", "operators") {
      db.write(Pipeline.cleanCorpus(spark, corpus), "clean")
    }
    step("materialize", "catalog") {
      val docs = spark.read.parquet(s"$corpus/documents.parquet")
      val kept = db.read("clean").select("doc_id")
      db.write(docs.join(kept, "doc_id"), "kept/documents.parquet")
    }
    val keptDocs = db.read("kept/documents.parquet")
    step("split", "operators") {
      db.write(Pipeline.leakageSafeSplitOf(
        keptDocs.select("doc_id", "source", "text")), "split")
    }
    step("materialize_train", "catalog") {
      val train = db.read("split").filter(col("split") === "train")
        .select("doc_id")
      db.write(keptDocs.join(train, "doc_id"), "train/documents.parquet")
    }
    step("pack", "operators") {
      db.write(Pipeline.packSequences(spark, s"$dir/train"), "pack")
    }
    step("manifest", "operators") {
      db.write(Pipeline.shardManifest(spark, s"$dir/train"), "manifest")
    }
    steps.toMap
  }

  def finish(t0: Double, t1: Double): Results = {
    val fs = flows.map(_.s).toSeq
    val clean = flows.map(_.steps("clean")).toSeq
    val metrics = Map[String, Any](
      "docs_per_s" -> nDocs / Stats.median(fs),
      "flow_s_p50" -> Stats.median(fs),
      "flows" -> flows.size,
      "main_s_p50" -> Stats.median(fs),
      "side_s_p50" -> Stats.median(clean),
      "work_per_s" -> nDocs / Stats.median(fs))
    val outputs = Json.arr(flows.map(f => Json.obj("i" -> f.i, "dir" -> f.dir)))
    Results(metrics, if (ctx.traced) layers(t0, t1) else Map.empty, outputs)
  }

  private def layers(t0: Double, t1: Double): Map[String, Any] = {
    val l = ctx.listener.get
    val f0 = flows.head
    def stepSpans(n: String) = spansNamed(s"corpus.$n")
    val flowSpans = Seq("clean", "materialize", "split", "materialize_train",
      "pack", "manifest").flatMap(stepSpans)
    val clean = stepSpans("clean")
    engineWindow(t0, t1) ++ Map(
      "corpus.clean_s" -> f0.steps("clean"),
      "corpus.split_s" -> f0.steps("split"),
      "corpus.pack_s" -> f0.steps("pack"),
      "corpus.manifest_s" -> f0.steps("manifest"),
      "corpus.materialize_s" -> (f0.steps("materialize") +
        f0.steps("materialize_train")),
      "corpus.kept_frac" -> spark.read
        .parquet(s"${f0.dir}/kept/documents.parquet").count().toDouble / nDocs,
      "main.jobs" -> flowSpans.map(l.jobsIn(_).size).sum.toDouble,
      "main.driver_s" -> flowSpans.map(l.driverMs(_)).sum / 1000.0,
      "side.jobs" -> clean.map(l.jobsIn(_).size).sum.toDouble,
      "side.driver_s" -> clean.map(l.driverMs(_)).sum / 1000.0)
  }
}
