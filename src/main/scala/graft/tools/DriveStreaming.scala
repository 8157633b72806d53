package graft.tools

import java.nio.file.{Files, Paths}

import graft.catalog.GraftDatabase
import graft.streaming.StreamingCsvIngest

/** Manual end-to-end drive of the streaming ingest surface: two CSV
  * files arriving over time → incremental typed table + progress log.
  */
object DriveStreaming {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(4)
    val dir = new java.io.File("target/drive/stream").getCanonicalPath
    org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    Files.createDirectories(Paths.get(s"$dir/incoming"))
    Files.write(Paths.get(s"$dir/incoming/a.csv"), "city,pop\nOslo,700000\nBergen,290000".getBytes)
    val db = GraftDatabase(spark, s"$dir/db")

    val q1 = StreamingCsvIngest.start(db, s"$dir/incoming", "cities", "drive-1")
    q1.processAllAvailable(); q1.stop()
    println("[drive] after file 1: rows=" + db.read("cities").count())

    Files.write(Paths.get(s"$dir/incoming/b.csv"), "city,pop\nTromso,77000".getBytes)
    val q2 = StreamingCsvIngest.start(db, s"$dir/incoming", "cities", "drive-1")
    q2.processAllAvailable(); q2.stop()
    println("[drive] after file 2: rows=" + db.read("cities").count())
    println("[drive] schema: " + db.read("cities").schema.simpleString)
    db.progress.current().show(false)
    spark.stop()
  }
}
