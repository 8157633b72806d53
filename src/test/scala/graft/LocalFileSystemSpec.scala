package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{GraftDatabase, NoForkLocalFileSystem, NoForkLocalFs}
import graft.operators.TextIndex
import graft.sources.CsvUploader
import graft.streaming.{EventStreams, StreamingTextIndex}

/** The session's `file:` filesystem sets modes without forking
  * `chmod`: the engine's local writes start no `chmod` process, and
  * every file, checksum file and directory gets the mode Hadoop's
  * stock `LocalFileSystem` gives it. */
class LocalFileSystemSpec extends AnyFunSuite with SparkTestBase {

  private val Buckets = 4

  private def docs = Tables(spark, sf, "documents").select("doc_id", "text")

  private def octal(s: String): Short = Integer.parseInt(s, 8).toShort

  /** The full mode bits (sticky bit included) of a local path. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("file: resolves to NoForkLocalFileSystem through the session's confs") {
    val uri = new Path(scratch("nofork_wiring")).toUri
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration,
        spark.sessionState.newHadoopConf())) {
      assert(FileSystem.get(uri, conf).getClass == classOf[NoForkLocalFileSystem])
      // FileContext, the API streaming checkpoints write through
      assert(AbstractFileSystem.get(URI.create("file:///"), conf).getClass ==
        classOf[NoForkLocalFs])
    }
  }

  test("no chmod process: one micro-batch of a windowed aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val (n, chmods) = processesStartedBy {
      val q = EventStreams.windowedAgg(mem.toDF().toDF("ts", "event_type", "value"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("nofork_win").start()
      try {
        mem.addData(
          (java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0))
        q.processAllAvailable()
        spark.table("nofork_win").count()
      } finally q.stop()
    }
    assert(n == 1L)
    assert(chmods == 0)
  }

  test("FileContext makes files, checksum files and dirs with LocalFs's modes") {
    val conf = spark.sessionState.newHadoopConf()
    val stock = new Configuration(conf)
    stock.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val root = scratch("nofork_fc_modes")
    val trees = Seq(("stock", stock, classOf[LocalFs]),
        ("ours", conf, classOf[NoForkLocalFs])).map { case (name, c, cls) =>
      val base = new Path(s"$root/$name")
      assert(AbstractFileSystem.get(URI.create("file:///"), c).getClass == cls)
      val fc = FileContext.getFileContext(base.toUri, c)
      fc.create(new Path(base, "made/by/create/f"),
        java.util.EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.createParent()).close()
      fc.mkdir(new Path(base, "with/mode"), new FsPermission(octal("750")), true)
      val local = Paths.get(base.toString)
      val walk = Files.walk(local)
      try walk.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => local.relativize(p).toString -> mode(p)).sorted
      finally walk.close()
    }
    assert(trees.head.exists(_._1.endsWith(".f.crc")), trees.head)
    assert(trees(1) == trees.head)
  }

  test("no chmod process: a driver-tier append of 25 docs") {
    val db = GraftDatabase(spark, scratch("nofork_append"))
    TextIndex.buildIndex(db, "idx", docs.filter(col("doc_id") % 4 =!= 0), Buckets)
    val batch = docs.filter(col("doc_id") % 4 === 0).limit(25)
    val (_, chmods) = processesStartedBy(StreamingTextIndex.appendBatch(
      db, "idx", batch, Buckets, 0L, Long.MaxValue))
    assert(chmods == 0)
    assert(db.read("idx_corpus").filter(col("batch_id") === 0L)
      .head().getLong(1) == 25L)
  }

  test("no chmod process: one CsvUploader.upload") {
    val dir = scratch("nofork_upload")
    Files.write(Paths.get(s"$dir/pets.csv"),
      "id,name,weight\n1,Rex,12.5\n2,Tom,4.25\n3,Kit,3.0\n".getBytes("UTF-8"))
    val db = GraftDatabase(spark, s"$dir/db")
    val (res, chmods) =
      processesStartedBy(CsvUploader.upload(db, s"$dir/pets.csv", Some("pets")))
    assert(res.error.isEmpty, res.error)
    assert(res.rowsDone == 3L)
    assert(chmods == 0)
  }

  test("no chmod process: a Spark-tier buildIndex") {
    val db = GraftDatabase(spark, scratch("nofork_build"))
    val (_, chmods) =
      processesStartedBy(TextIndex.buildIndex(db, "idx", docs, Buckets, 0L))
    assert(chmods == 0)
    assert(db.read("idx_len").count() == docs.count())
  }

  /** The `file:` filesystems to compare against, and ours, under
    * `conf`: Hadoop's `LocalFileSystem` and the class `file:` resolves
    * to without the session's registration (Hive's
    * `ProxyLocalFileSystem` when Spark's Hive jars are loaded). New
    * instances, bypassing Hadoop's cache. */
  private def filesystems(conf: Configuration): Seq[(String, FileSystem)] = {
    val uri = URI.create("file:///")
    val hadoop = new LocalFileSystem()
    hadoop.initialize(uri, conf)
    val unregistered = new Configuration(conf)
    unregistered.unset("fs.file.impl")
    val ours = FileSystem.newInstance(uri, conf)
    assert(ours.getClass == classOf[NoForkLocalFileSystem])
    Seq("hadoop" -> hadoop,
      "default" -> FileSystem.newInstance(uri, unregistered), "ours" -> ours)
  }

  test("files, checksum files and dirs get the stock LocalFileSystem's modes") {
    for (umask <- Seq(None, Some("077"))) {
      val conf = new Configuration(spark.sessionState.newHadoopConf())
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val root = scratch(s"nofork_modes_${umask.getOrElse("default")}")
      val trees = filesystems(conf).map { case (name, fs) =>
        val base = new Path(s"$root/$name")
        fs.create(new Path(base, "made/by/create/f.parquet")).close()
        fs.mkdirs(new Path(base, "made/by/mkdirs"))
        fs.mkdirs(new Path(base, "with/mode"), new FsPermission(octal("750")))
        val g = new Path(base, "with/mode/g")
        fs.create(g).close()
        fs.setPermission(g, new FsPermission(octal("640")))
        fs.close()
        val local = Paths.get(base.toString)
        val walk = Files.walk(local)
        try walk.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
          .map(p => local.relativize(p).toString -> mode(p)).sorted
        finally walk.close()
      }
      val want = trees.head
      assert(want.exists(_._1.endsWith(".f.parquet.crc")), want)
      assert(trees.forall(_ == want), s"umask $umask: $trees")
    }
  }

  test("rename replaces no existing file, as without the registration") {
    val root = scratch("nofork_rename")
    val outcomes = filesystems(spark.sessionState.newHadoopConf()).drop(1).map {
      case (name, fs) =>
        def file(n: String, body: String) = {
          val p = new Path(s"$root/$name/$n")
          val out = fs.create(p)
          try out.writeBytes(body) finally out.close()
          p
        }
        val (a, b) = (file("a", "new"), file("b", "held"))
        val onFile = fs.rename(a, b)
        val onFree = fs.rename(a, new Path(s"$root/$name/c"))
        val held = scala.io.Source.fromFile(s"$root/$name/b")
        try (onFile, onFree, held.mkString) finally { held.close(); fs.close() }
    }
    assert(outcomes == Seq((false, true, "held"), (false, true, "held")))
  }

  test("a sticky-bit mode still lands") {
    val dir = new Path(scratch("nofork_sticky"), "shared")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    fs.setPermission(dir, new FsPermission(octal("1777")))
    assert(mode(Paths.get(dir.toString)) == octal("1777"))
    fs.setPermission(dir, new FsPermission(octal("755")))
    assert(mode(Paths.get(dir.toString)) == octal("755"))
  }
}
