package graft

import org.scalatest.funsuite.AnyFunSuite

/** Rules on the library's own source: its defaults are constants, not
  * environment reads, it carries no probe programs or shims, and the
  * upload and streaming-ingest lifecycles and the text index's writer
  * are each written once; only one class sets a local file's mode,
  * only `catalog.Publish` renames to publish, and a listing signature
  * or the Spark application id is read only by `ParquetStats`,
  * `catalog.ServedArtifact` and `catalog.ListingMemo`.
  * Operators take their gates as parameters, and a session setting is
  * overridden with `.config(key, value)` after `GraftSession.configure`.
  */
class SourceScanSpec extends AnyFunSuite {

  private def scalaFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.endsWith(".scala"))
  }

  private def text(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)

  test("src/main reads no env var but the bench contract's three") {
    val contract =
      Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_ONLY")
    val read = """(sys\.env|System\.getenv)""".r
    val named = """^(?:\.(?:get|getOrElse|apply|contains))?\(\s*"([^"]*)"""".r
    val offenders = for {
      f <- scalaFiles("src/main")
      src = text(f)
      m <- read.findAllMatchIn(src).toSeq
      name = named.findFirstMatchIn(src.substring(m.end)).map(_.group(1))
      if !name.exists(contract)
    } yield s"${f.getPath}: ${name.getOrElse(src.substring(m.start).take(40))}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("graft/tools holds at most two programs") {
    val tools = new java.io.File("src/main/scala/graft/tools").list()
    assert(tools.length <= 2, tools.sorted.mkString(", "))
  }

  test("only the upload envelope runs the batch upload lifecycle") {
    val lifecycle =
      """progress\s*\.\s*(start|complete|fail)\s*\(|new\s+(graft\.catalog\.)?ProgressReporter\b""".r
    val sites = scalaFiles("src/main/scala/graft/sources")
      .filter(f => lifecycle.findFirstIn(text(f)).isDefined).map(_.getName)
    assert(sites == Seq("Upload.scala"), sites.mkString(", "))
  }

  test("only IngestPublish starts a streaming ingest query") {
    val start = """\.\s*(writeStream|foreachBatch)\b""".r
    val sites = scalaFiles("src/main/scala/graft/streaming")
      .filter(_.getName.contains("Ingest"))
      .filter(f => start.findFirstIn(text(f)).isDefined).map(_.getName)
    assert(sites == Seq("IngestPublish.scala"), sites.mkString(", "))
  }

  test("one writer writes the text index") {
    val write = """\b(saveAsTable|writeBucketed|prepareWrite)\s*\(""".r
    val sites = Seq("operators/TextIndex.scala",
        "streaming/StreamingTextIndex.scala")
      .map(p => new java.io.File(s"src/main/scala/graft/$p"))
      .filter(f => write.findFirstIn(text(f)).isDefined).map(_.getName)
    assert(sites == Seq("TextIndex.scala"), sites.mkString(", "))
    val stale = scalaFiles("src/main").filter(f =>
      text(f).contains("batchArtifacts")).map(_.getName)
    assert(stale.isEmpty, stale.mkString(", "))
  }

  test("only NoForkLocalFileSystem sets a local file's mode") {
    for (key <- Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl")) {
      val impl = scalaFiles("src/main")
        .filter(f => text(f).contains(key)).map(_.getName)
      assert(impl == Seq("GraftSession.scala"), s"$key: ${impl.mkString(", ")}")
    }
    val chmod = """\b(Shell\s*\.|FileUtil\s*\.\s*chmod\b|setPermission\b)""".r
    val sites = scalaFiles("src/main")
      .filter(f => chmod.findFirstIn(text(f)).isDefined).map(_.getName)
    assert(sites == Seq("NoForkLocalFileSystem.scala"), sites.mkString(", "))
  }

  test("only Publish renames: every publish goes through catalog.Publish") {
    // the filesystem itself, and the build lock's tomb renames (a lock
    // protocol, not a publish)
    def allowed(file: String, line: String) = file match {
      case "Publish.scala" | "NoForkLocalFileSystem.scala" => true
      case "ServedArtifact.scala" => line.contains("tomb")
      case _ => false
    }
    val renames = for {
      f <- scalaFiles("src/main")
      line <- text(f).linesIterator.toSeq if line.contains(".rename(")
    } yield (f.getName, line.trim)
    val offenders = renames.filterNot { case (f, l) => allowed(f, l) }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    assert(renames.exists(_._1 == "Publish.scala"))
  }

  test("only ListingMemo and ServedArtifact sign listings for freshness") {
    // HashExpressions' per-task Bloom LRU is executor-side and reads
    // neither, so it is outside this rule
    val allowed =
      Set("ParquetStats.scala", "ServedArtifact.scala", "ListingMemo.scala")
    for (use <- Seq("listingSig(", "sparkContext.applicationId")) {
      val sites = scalaFiles("src/main")
        .filter(f => text(f).contains(use)).map(_.getName)
      assert(sites.forall(allowed), s"$use: ${sites.mkString(", ")}")
    }
  }

  test("no probe shim remains under graft/operators") {
    // embeddingLshMultiProbe is multi-probe LSH, an algorithm's name
    val shim = """def\s+(\w*(?<!Multi)Probe)\b""".r
    val hits = scalaFiles("src/main/scala/graft/operators").flatMap(f =>
      shim.findAllMatchIn(text(f)).map(m => s"${f.getName}: ${m.group(1)}"))
    assert(hits.isEmpty, hits.mkString(", "))
  }
}
