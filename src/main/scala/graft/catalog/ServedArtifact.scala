package graft.catalog

import org.apache.spark.sql.SparkSession

/** Build-once/serve-many scratch artifact database, the one copy of
  * the protocol every served path uses:
  *   - the C30/C31 LM models (`lmmodel`, `mlmodel`),
  *   - the C36b quality gate (`qgate`),
  *   - the B32 events rollup (`evroll`),
  *   - the E11/E12 text index (`textindex`, bucket count in the key),
  *   - the bucketed TPC-H layout (`bucketed`, width in the key,
  *     signed over BOTH `lineitem` and `orders`),
  *   - the C40c split artifact (`splitart`, `newMod` in the key).
  *
  * The protocol the pattern's history demanded: key on the FULL
  * source path (basename + path-MD5 — two same-named corpora must
  * never share an artifact, the late-r8 review fix), re-check the
  * file-listing signature of every source path on EVERY invocation
  * (a long-lived driver must notice a corpus swap, the r9 fix),
  * re-attach across processes via the sig sidecar table, and refresh
  * Spark's session-level listing cache before a rebuild reads a
  * swapped path (FAILED_READ_FILE otherwise). [[db]] builds only when
  * stale; [[rebuild]] builds unconditionally under the same locks,
  * for a build row whose timing is the build. Extracted in r13 —
  * this block existed in four verbatim copies, and two of its three
  * historical bugs had to be fixed in more than one of them.
  */
object ServedArtifact {

  // artifact key -> last verified signature; values are tiny strings
  // and entries are bounded by distinct served corpora per process
  private val ready =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // per-key build lock (r13 review): two threads cold-serving the
  // same key must not both run build() — concurrent Overwrite jobs
  // on one parquet path corrupt or fail each other. Lock objects are
  // as bounded as `ready` entries.
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Scratch-db directory key for `dir`: basename for readability +
    * 6-byte MD5 over the full path (plus `keyExtra`, for artifacts
    * parameterized beyond the corpus — e.g. C31's target-source set,
    * where two target definitions over one corpus need two scratch
    * dbs, not a shared db thrashing rebuilds), filesystem-safe. */
  def keyOf(dir: String, keyExtra: String = ""): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val ident =
      if (keyExtra.isEmpty) p.toString else s"${p.toString}|$keyExtra"
    p.getName + "_" + java.security.MessageDigest.getInstance("MD5")
      .digest(ident.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
  }

  /** The served database for (`prefix`, `dir`, `keyExtra`), building
    * via `build` exactly when the sidecar signature disagrees with
    * the current listings of `sigSource` (the table paths the build
    * reads — the bucketed TPC-H layout names two). `extraSig` folds
    * build PARAMETERS into the staleness contract — an artifact built
    * at keepPct=20 must not serve a keepPct=50 request; use
    * `keyExtra` instead when both parameterizations must stay
    * servable side by side.
    */
  def db(spark: SparkSession, prefix: String, dir: String,
      sigSource: Seq[String], extraSig: String = "", keyExtra: String = "")(
      build: GraftDatabase => Unit): GraftDatabase = {
    val (key, d) = handle(spark, prefix, dir, keyExtra)
    val sig = signature(spark, sigSource, extraSig)
    if (ready.get(key) != sig)
      locked(spark, key, d, sig, sigSource, force = false)(build)
    d
  }

  /** [[db]] with the staleness check skipped: runs `build` under the
    * same locks, writes the sidecar and marks the artifact ready, so
    * later [[db]] calls serve what it built. For a build row whose
    * timing IS the build cost. */
  def rebuild(spark: SparkSession, prefix: String, dir: String,
      sigSource: Seq[String], extraSig: String = "", keyExtra: String = "")(
      build: GraftDatabase => Unit): GraftDatabase = {
    val (key, d) = handle(spark, prefix, dir, keyExtra)
    locked(spark, key, d, signature(spark, sigSource, extraSig), sigSource,
      force = true)(build)
    d
  }

  private def handle(spark: SparkSession, prefix: String, dir: String,
      keyExtra: String): (String, GraftDatabase) = {
    val key = s"${prefix}_${keyOf(dir, keyExtra)}"
    (key, GraftDatabase(spark,
      s"${graft.operators.CsvQueries.scratchRoot}/$key/db"))
  }

  // Unlistable source = LOUD error, not a "missing" sentinel: a
  // served artifact's corpus must be listable, and treating an IO
  // hiccup as staleness would kick off a spurious full rebuild on
  // the serving path mid-incident (r13 review). One path's signature
  // is its bare listing, so single-source sidecars keep their format.
  private def signature(spark: SparkSession, sigSource: Seq[String],
      extraSig: String): String = {
    val listing = sigSource.map(p =>
      graft.sources.ParquetStats.listingSig(spark, p)
        .getOrElse(throw new IllegalStateException(
          s"served-artifact source not listable: $p"))).mkString("||")
    if (extraSig.isEmpty) listing else s"$listing#$extraSig"
  }

  private def locked(spark: SparkSession, key: String, d: GraftDatabase,
      sig: String, sigSource: Seq[String], force: Boolean)(
      build: GraftDatabase => Unit): Unit =
    locks.computeIfAbsent(key, _ => new Object()).synchronized {
      // re-check under the lock: a racing thread may have built
      if (force || ready.get(key) != sig) {
        if (force || !sidecarFresh(spark, d, sig)) {
          // The signature change proves the files moved under us —
          // but Spark's session-level listing cache may still plan
          // the OLD file set for these paths. Invalidate before the
          // rebuild reads.
          sigSource.foreach(spark.catalog.refreshByPath)
          // The JVM lock above only serializes THREADS; two driver
          // PROCESSES cold-serving one key would still interleave
          // SaveMode.Overwrite jobs on the same parquet path (r14
          // ADVICE). The FS lock serializes across processes, and
          // the freshness re-check under it turns "lost the race"
          // into "serve the winner's build".
          withBuildLock(spark, d) {
            if (force || !sidecarFresh(spark, d, sig)) {
              // an interrupted build must leave no sidecar vouching
              // for its half-written tables
              ready.remove(key)
              d.dropTable("artifact_sig")
              build(d)
              d.write(spark.createDataset(Seq(sig))(
                org.apache.spark.sql.Encoders.STRING).toDF("sig"),
                "artifact_sig", org.apache.spark.sql.SaveMode.Overwrite)
            }
          }
        }
        ready.put(key, sig)
        ()
      }
    }

  /** Is the on-disk sidecar's signature equal to `sig`? Distinguishes
    * the three cases the old catch-all conflated (r14 ADVICE): a
    * MISSING sidecar table (cold or swapped artifact → stale, build),
    * a PRESENT-but-unreadable one (an interrupted earlier build left
    * the dir without committed parquet — AnalysisException at plan
    * time → stale, rebuild), and a genuine IO error on a listable
    * table, which now propagates loudly instead of triggering a
    * spurious full rebuild on the serving path mid-incident — the
    * same treatment the unlistable-source check above gives
    * `listingSig`.
    */
  private def sidecarFresh(spark: SparkSession, d: GraftDatabase,
      sig: String): Boolean = {
    val sigPath = new org.apache.hadoop.fs.Path(d.tablePath("artifact_sig"))
    val fs = sigPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(sigPath) && {
      val rows =
        try d.read("artifact_sig").collect()
        catch {
          // plan-time failure = uncommitted/half-written sidecar
          case _: org.apache.spark.sql.AnalysisException => Array.empty[org.apache.spark.sql.Row]
        }
      rows.nonEmpty && rows(0).getString(0) == sig
    }
  }

  /** Run `body` holding an exclusive marker file under the artifact
    * db. The acquire is atomic: on HDFS, `create(path,
    * overwrite=false)` is enforced server-side; on the LOCAL
    * filesystem Hadoop's create is check-then-create (r14 ADVICE),
    * so the local path uses `File.createNewFile` (O_CREAT|O_EXCL).
    * A lock older than [[BuildLockStaleMs]] is presumed abandoned by
    * a crashed builder and broken — but only after TWO sightings of
    * the SAME modification time (r14 ADVICE): a single stat-then-
    * delete lets two waiters both judge a lock stale and waiter B
    * delete the lock waiter A just re-created. The break itself is
    * an atomic RENAME to a waiter-unique tomb (r15 review: a bare
    * delete re-opened the race — B's delete, decided from a stat
    * taken before A's delete+create, could land after it and remove
    * A's fresh lock): exactly one of N concurrent breakers wins the
    * rename, and the winner then verifies the TOMB's mtime is the
    * stale one it expected — if a new holder's fresh lock was stolen
    * in the stat→rename instant, it is renamed straight back.
    * After a break the waiter loops back to the ATOMIC create — it
    * never assumes acquisition. Residual honesty: a plain FS has no
    * compare-and-swap, so a fresh acquisition landing inside the
    * microsecond rename-back window while a THIRD waiter creates is
    * still unguarded — after a 30-minute stale period, with the
    * two-sighting gate in front, this is the narrowest window the
    * primitive set allows; a production deployment points the lock
    * at a metadata service instead. Waiting acquirers poll rather
    * than queue (cold builds are rare and bounded).
    */
  private val BuildLockStaleMs = 30L * 60 * 1000

  /** Create the lock file atomically-if-absent; false when present.
    * If the CREATE succeeded but writing the holder tag fails (r15
    * review: a transient IO hiccup mid-write), the half-created lock
    * is deleted before reporting failure — otherwise the creator
    * itself and every waiter would spin on an orphan nobody holds
    * until the stale break. */
  private def tryCreateLock(fs: org.apache.hadoop.fs.FileSystem,
      lockPath: org.apache.hadoop.fs.Path): Boolean = {
    val local = fs.getScheme == "file"
    if (local) {
      val f = new java.io.File(lockPath.toUri.getPath)
      if (!f.createNewFile()) false
      else {
        try {
          val w = new java.io.FileOutputStream(f)
          try w.write(java.lang.management.ManagementFactory
            .getRuntimeMXBean.getName.getBytes("UTF-8"))
          finally w.close()
          true
        } catch {
          case e: java.io.IOException => f.delete(); throw e
        }
      }
    } else {
      val created =
        try Some(fs.create(lockPath, false))
        catch { case _: java.io.IOException => None }
      created match {
        case None => false
        case Some(out) =>
          try {
            out.writeBytes(java.lang.management.ManagementFactory
              .getRuntimeMXBean.getName)
            out.close()
            true
          } catch {
            case e: java.io.IOException =>
              try fs.delete(lockPath, false)
              catch { case _: java.io.IOException => () }
              throw e
          }
      }
    }
  }

  private def withBuildLock[T](spark: SparkSession, d: GraftDatabase)(
      body: => T): T = {
    val lockPath = new org.apache.hadoop.fs.Path(d.path, "_build.lock")
    val fs = lockPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(lockPath.getParent)
    var acquired = false
    var staleSeen = Long.MinValue // mtime observed stale last iteration
    while (!acquired) {
      if (tryCreateLock(fs, lockPath)) acquired = true
      else {
        val st =
          try Some(fs.getFileStatus(lockPath))
          catch { case _: java.io.FileNotFoundException => None }
        st match {
          case Some(s) if System.currentTimeMillis() -
              s.getModificationTime > BuildLockStaleMs =>
            if (s.getModificationTime == staleSeen) {
              // second sighting, same mtime: genuinely abandoned.
              // Atomic steal: rename to a waiter-unique tomb (only
              // one of N breakers succeeds), verify the tomb IS the
              // stale lock, then discard it — a fresh lock stolen in
              // the stat→rename instant goes straight back.
              val tomb = new org.apache.hadoop.fs.Path(
                lockPath.getParent,
                s"_build.lock.tomb.${java.util.UUID.randomUUID}")
              val stolen =
                try fs.rename(lockPath, tomb)
                catch { case _: java.io.IOException => false }
              if (stolen) {
                val tombSt =
                  try Some(fs.getFileStatus(tomb))
                  catch { case _: java.io.FileNotFoundException => None }
                if (tombSt.exists(_.getModificationTime == staleSeen))
                  fs.delete(tomb, false) // confirmed stale: broken
                else if (!fs.rename(tomb, lockPath))
                  fs.delete(tomb, false) // third-party won create
              }
              staleSeen = Long.MinValue
            } else {
              staleSeen = s.getModificationTime
              Thread.sleep(200)
            }
          case Some(_) => staleSeen = Long.MinValue; Thread.sleep(200)
          case None => staleSeen = Long.MinValue // released mid-check
        }
      }
    }
    // HEARTBEAT (r15 review): the stale break judges liveness by the
    // lock's mtime, which create() sets exactly once — a LIVE build
    // running past BuildLockStaleMs would look abandoned and have
    // its lock stolen, re-admitting the concurrent-Overwrite corruption
    // the lock exists to prevent. The holder refreshes the mtime at
    // a third of the stale threshold for as long as the build runs.
    val beat = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(BuildLockStaleMs / 3)
          val now = System.currentTimeMillis()
          try fs.setTimes(lockPath, now, now)
          catch { case _: java.io.IOException => () }
        }
      } catch { case _: InterruptedException => () }
    })
    beat.setDaemon(true)
    beat.setName("graft-build-lock-heartbeat")
    beat.start()
    try body
    finally {
      beat.interrupt()
      fs.delete(lockPath, false)
    }
  }
}
