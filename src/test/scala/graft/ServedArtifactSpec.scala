package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.ServedArtifact

/** The cross-process build-lock + sidecar-freshness protocol added in
  * r14 (ADVICE: the JVM lock left concurrent PROCESSES able to
  * interleave Overwrite builds; the catch-all freshness read turned
  * IO incidents into spurious rebuilds).
  */
class ServedArtifactSpec extends AnyFunSuite with SparkTestBase {

  private def corpusDir(name: String): String = {
    import spark.implicits._
    val dir = scratch(name)
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .repartition(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  private def fsOf(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("stale leftover _build.lock is broken, build proceeds, lock removed") {
    val dir = corpusDir("served_stale_lock")
    val builds = new AtomicInteger(0)
    val key = "tstale_" + ServedArtifact.keyOf(dir)
    val dbPath = new Path(
      s"${graft.operators.CsvQueries.scratchRoot}/$key/db")
    val lock = new Path(dbPath, "_build.lock")
    val fs = fsOf(lock)
    fs.delete(dbPath.getParent, true)
    fs.mkdirs(dbPath)
    fs.create(lock, true).close()
    // age the lock past the 30-min break threshold (a crashed
    // builder's leftover)
    val old = System.currentTimeMillis() - 45L * 60 * 1000
    fs.setTimes(lock, old, old)
    val db = ServedArtifact.db(spark, "tstale", dir,
      Seq(s"$dir/documents.parquet")) { d =>
      builds.incrementAndGet()
      d.write(spark.range(1).toDF("x"), "t",
        org.apache.spark.sql.SaveMode.Overwrite)
    }
    assert(builds.get() == 1, "stale lock must not block the cold build")
    assert(!fs.exists(lock), "lock must be released after the build")
    assert(db.read("t").count() == 1)
  }

  test("held _build.lock blocks a second builder until released; loser serves winner's build") {
    val dir = corpusDir("served_held_lock")
    val builds = new AtomicInteger(0)
    val key = "theld_" + ServedArtifact.keyOf(dir)
    val dbPath = new Path(
      s"${graft.operators.CsvQueries.scratchRoot}/$key/db")
    val lock = new Path(dbPath, "_build.lock")
    val fs = fsOf(lock)
    fs.delete(dbPath.getParent, true)
    fs.mkdirs(dbPath)
    fs.create(lock, false).close() // fresh: simulates a live builder
    val done = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => {
      ServedArtifact.db(spark, "theld", dir,
        Seq(s"$dir/documents.parquet")) { d =>
        builds.incrementAndGet()
        d.write(spark.range(1).toDF("x"), "t",
          org.apache.spark.sql.SaveMode.Overwrite)
      }
      done.countDown()
    })
    t.start()
    // while the (fresh) lock is held, the acquirer must wait
    Thread.sleep(1500)
    assert(done.getCount == 1, "builder must wait on a live FS lock")
    assert(builds.get() == 0)
    // the "other process" finishes: publishes artifact + sidecar,
    // then releases — the waiter must re-check freshness and NOT
    // rebuild over the winner's artifact
    val d2 = graft.catalog.GraftDatabase(spark, dbPath.toString)
    d2.write(spark.range(1).toDF("x"), "t",
      org.apache.spark.sql.SaveMode.Overwrite)
    val listing = graft.sources.ParquetStats
      .listingSig(spark, s"$dir/documents.parquet").get
    d2.write(spark.createDataset(Seq(listing))(
      org.apache.spark.sql.Encoders.STRING).toDF("sig"),
      "artifact_sig", org.apache.spark.sql.SaveMode.Overwrite)
    fs.delete(lock, false)
    assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
    assert(builds.get() == 0,
      "waiter must serve the winner's build, not rerun its own")
  }

  test("lock recreated between stale sightings is NOT broken (r15 two-sighting rule)") {
    // r14 ADVICE race: waiter A and waiter B both stat a stale lock;
    // A breaks it and re-creates a FRESH lock; single-sighting B then
    // deletes A's fresh lock and two builds run concurrently. The
    // two-sighting rule requires the SAME stale mtime on a re-stat
    // before deleting — a lock whose mtime changed between sightings
    // (a new holder) is live and must be waited on.
    val dir = corpusDir("served_twosight")
    val builds = new AtomicInteger(0)
    val key = "tsight_" + ServedArtifact.keyOf(dir)
    val dbPath = new Path(
      s"${graft.operators.CsvQueries.scratchRoot}/$key/db")
    val lock = new Path(dbPath, "_build.lock")
    val fs = fsOf(lock)
    fs.delete(dbPath.getParent, true)
    fs.mkdirs(dbPath)
    fs.create(lock, true).close()
    val old = System.currentTimeMillis() - 45L * 60 * 1000
    fs.setTimes(lock, old, old) // stale: first sighting will record it
    val done = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => {
      ServedArtifact.db(spark, "tsight", dir,
        Seq(s"$dir/documents.parquet")) { d =>
        builds.incrementAndGet()
        d.write(spark.range(1).toDF("x"), "t",
          org.apache.spark.sql.SaveMode.Overwrite)
      }
      done.countDown()
    })
    t.start()
    // between the waiter's first sighting and its re-stat (200 ms
    // poll), the stale lock is replaced by a FRESH one — the
    // interleaving where a new holder re-created the lock
    Thread.sleep(100)
    fs.delete(lock, false)
    fs.create(lock, false).close() // fresh mtime = now
    // the waiter must keep waiting on the fresh lock (the old
    // single-sighting code would have deleted it and built here)
    Thread.sleep(1200)
    assert(done.getCount == 1 && builds.get() == 0,
      "a lock recreated between sightings is live — must not be broken")
    // holder releases: waiter acquires and builds exactly once
    fs.delete(lock, false)
    assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
    assert(builds.get() == 1)
    assert(!fs.exists(lock), "lock released after the build")
  }

  test("half-written sidecar (dir without committed parquet) reads as stale, rebuilds") {
    val dir = corpusDir("served_half_sidecar")
    val builds = new AtomicInteger(0)
    val key = "thalf_" + ServedArtifact.keyOf(dir)
    val dbPath = new Path(
      s"${graft.operators.CsvQueries.scratchRoot}/$key/db")
    val fs = fsOf(dbPath)
    fs.delete(dbPath.getParent, true)
    // an interrupted earlier build: artifact_sig DIR exists, no files
    fs.mkdirs(new Path(dbPath, "artifact_sig"))
    val db = ServedArtifact.db(spark, "thalf", dir,
      Seq(s"$dir/documents.parquet")) { d =>
      builds.incrementAndGet()
      d.write(spark.range(1).toDF("x"), "t",
        org.apache.spark.sql.SaveMode.Overwrite)
    }
    assert(builds.get() == 1, "uncommitted sidecar must trigger a rebuild")
    assert(db.read("t").count() == 1)
  }

  test("rebuild builds unconditionally; an interrupted rebuild leaves the artifact stale") {
    val dir = corpusDir("served_rebuild")
    val builds = new AtomicInteger(0)
    def serve(entry: String) = {
      val build = (d: graft.catalog.GraftDatabase) => {
        builds.incrementAndGet()
        d.write(spark.range(1).toDF("x"), "t",
          org.apache.spark.sql.SaveMode.Overwrite)
        if (entry == "failing") throw new RuntimeException("build died")
      }
      val src = Seq(s"$dir/documents.parquet")
      if (entry == "db") ServedArtifact.db(spark, "trebuild", dir, src)(build)
      else ServedArtifact.rebuild(spark, "trebuild", dir, src)(build)
    }
    serve("db")
    serve("db")
    assert(builds.get() == 1, "a fresh artifact is served, not rebuilt")
    serve("rebuild")
    assert(builds.get() == 2, "rebuild must not consult freshness")
    serve("db")
    assert(builds.get() == 2, "db serves what rebuild built")
    intercept[RuntimeException](serve("failing"))
    serve("db")
    assert(builds.get() == 4,
      "a rebuild that died mid-build must not leave its artifact marked fresh")
  }

  test("served artifacts and test corpora live under the working directory") {
    val target = new java.io.File("target").getCanonicalPath + "/"
    Seq(graft.operators.CsvQueries.scratchRoot, scratch("scratch_root_probe"))
      .foreach(r => assert(new java.io.File(r).getCanonicalPath.startsWith(target),
        s"$r is outside $target"))
  }

  test("no program file under src/main or tools names the checkout's absolute path") {
    val root = new java.io.File(".").getCanonicalFile
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val hits = Seq("src/main", "tools")
      .flatMap(d => files(new java.io.File(root, d)))
      .filter(f => f.getName.endsWith(".scala") || f.getName.endsWith(".py"))
      .filter(f => new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).contains(root.getPath))
    assert(hits.isEmpty, s"${root.getPath} is named in ${hits.mkString(", ")}")
  }
}
