package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.Publish

/** The one publish primitive on the session's local filesystem: a
  * checked move that refuses an existing destination, and a swap
  * through a backup whose every crash state heals.
  */
class PublishSpec extends AnyFunSuite with SparkTestBase {

  private def fsAt(dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def put(fs: FileSystem, p: Path, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
  }

  private def get(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Every file under `p`, relative to it, with its contents. */
  private def tree(fs: FileSystem, p: Path): Map[String, String] = {
    val root = fs.getFileStatus(p).getPath.toUri.getPath
    val it = fs.listFiles(p, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .map(f => f.toUri.getPath.stripPrefix(root) -> get(fs, f)).toMap
  }

  test("move refuses an existing directory and leaves both trees intact") {
    val dir = scratch("publish_move")
    val fs = fsAt(dir)
    val (a, b) = (new Path(dir, "a"), new Path(dir, "b"))
    put(fs, new Path(a, "x"), "from a")
    put(fs, new Path(b, "y"), "from b")
    // the hazard: a bare rename onto a non-empty directory reports
    // success and nests the source inside it
    val (c, d) = (new Path(dir, "c"), new Path(dir, "d"))
    put(fs, new Path(c, "x"), "c")
    put(fs, new Path(d, "y"), "d")
    assert(fs.rename(c, d) && fs.exists(new Path(d, "c/x")))
    intercept[java.io.IOException](Publish.move(fs, a, b))
    assert(tree(fs, a) == Map("/x" -> "from a"))
    assert(tree(fs, b) == Map("/y" -> "from b"))
    // an existing file destination is refused too; a free name moves
    intercept[java.io.IOException](
      Publish.move(fs, new Path(a, "x"), new Path(b, "y")))
    Publish.move(fs, a, new Path(dir, "e"))
    assert(!fs.exists(a) && tree(fs, new Path(dir, "e")) == Map("/x" -> "from a"))
  }

  /** A file and a directory holding one file, each with `body`. */
  private val shapes: Seq[(String, (FileSystem, Path, String) => Unit,
      (FileSystem, Path) => String)] = Seq(
    ("file", (fs, p, body) => put(fs, p, body), (fs, p) => get(fs, p)),
    ("directory", (fs, p, body) => put(fs, new Path(p, "part"), body),
      (fs, p) => get(fs, new Path(p, "part"))))

  // the crash states a swap can leave: (dst holds, backup holds)
  private val states: Seq[(String, (Option[String], Option[String]))] = Seq(
    "only dst" -> (Some("old"), None),
    "only backup" -> (None, Some("old")),
    "both" -> (Some("new0"), Some("old")))

  for ((shape, make, read) <- shapes; (state, (dst0, bak0)) <- states)
    test(s"swap and heal, $shape, crash state $state") {
      val dir = scratch(s"publish_swap_${shape}_${state.replace(' ', '_')}")
      val fs = fsAt(dir)
      val (staged, dst, bak) =
        (new Path(dir, "staged"), new Path(dir, "t"), new Path(dir, "_old_t"))
      def crash(): Unit = {
        Seq(staged, dst, bak).foreach(fs.delete(_, true))
        dst0.foreach(make(fs, dst, _))
        bak0.foreach(make(fs, bak, _))
      }
      // heal restores the backup only when dst is missing
      crash()
      Publish.heal(fs, dst, bak)
      assert(read(fs, dst) == dst0.getOrElse("old"))
      assert(fs.exists(bak) == (dst0.isDefined && bak0.isDefined))
      // a swap from the crash state publishes the staged copy
      crash()
      make(fs, staged, "new")
      Publish.swap(fs, staged, dst, bak)
      assert(read(fs, dst) == "new")
      assert(fs.listStatus(new Path(dir)).map(_.getPath.getName)
        .filterNot(_.startsWith(".")).toSet == Set("t"))
    }
}
