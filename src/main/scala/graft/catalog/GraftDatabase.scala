package graft.catalog

import java.util.Locale

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** A graft "database": a directory of parquet tables (SURVEY.md
  * §2.A5/A8).
  *
  * Mirrors the reference's notion of a mutable target database
  * (datasette_upload_csvs/__init__.py:82-100) with Datasette's
  * SQLite file swapped for a parquet directory on any Hadoop-visible
  * filesystem (local, HDFS, S3A…) — many databases coexist, one per
  * directory.
  */
class GraftDatabase(val spark: SparkSession, val path: String) {

  val name: String = new Path(path).getName

  private[graft] def fs: FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def tablePath(table: String): String = s"$path/$table"

  def tableExists(table: String): Boolean =
    fs.exists(new Path(tablePath(table)))

  /** Filename → table name: strip a trailing ".gz" first, then
    * exactly ONE of `extensions` (reference __init__.py:117-119 —
    * "weird ~ file.csv.csv" becomes "weird ~ file.csv"). One
    * authority for every format's uploader: CSV uses the default,
    * JSONL passes its own extension list.
    *
    * INTENTIONAL divergence from the reference for gzip inputs:
    * gzip upload itself is a graft extension (A12 — the reference
    * accepts only plain `.csv`/no-extension files, __init__.py:70),
    * so "dogs.csv.gz" has no reference-defined mapping; we map it to
    * "dogs" (the table a user re-uploading the uncompressed file
    * would get) rather than the literal "dogs.csv.gz" the reference's
    * strip-one-".csv" rule would produce if it ever saw the name.
    * Plain `.csv` names behave byte-for-byte like the reference.
    */
  def tableNameForFile(fileName: String,
      extensions: Seq[String] = Seq(".csv")): String = {
    val base = new Path(fileName).getName
    val ungz = if (base.endsWith(".gz")) base.dropRight(3) else base
    extensions.find(ungz.endsWith)
      .map(e => ungz.dropRight(e.length))
      .getOrElse(ungz)
  }

  /** Conflict resolution: append _2, _3, … until free (reference
    * __init__.py:121-127). `reserved` extends the conflict set with
    * names not yet on disk (a batch upload resolving several files
    * up front) — ONE authority for the suffix contract, whatever the
    * caller's concurrency.
    */
  def resolveTableName(base: String,
      reserved: Set[String] = Set.empty): String = {
    def free(n: String) = !reserved.contains(n) && !tableExists(n)
    if (free(base)) return base
    var suffix = 2
    while (!free(s"${base}_$suffix")) suffix += 1
    s"${base}_$suffix"
  }

  def write(df: DataFrame, table: String,
      mode: SaveMode = SaveMode.ErrorIfExists): Unit =
    df.write.mode(mode).parquet(tablePath(table))

  /** Construction reads one footer on the driver and launches no Spark job. */
  def read(table: String): DataFrame =
    graft.sources.ParquetStats.read(spark, tablePath(table))

  /** User tables only — internal tables are underscore-prefixed like
    * the reference's `_csv_progress_`.
    */
  def listTables(): Seq[String] = {
    val p = new Path(path)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(_.startsWith("_"))
      .sorted
  }

  def dropTable(table: String): Unit =
    fs.delete(new Path(tablePath(table)), true)

  /** Export a table as CSV (Datasette exposes every table in CSV
    * form; this is the write-side equivalent). Distributed write —
    * one part per partition.
    */
  def exportCsv(table: String, outPath: String): Unit =
    read(table).write.mode(SaveMode.Overwrite)
      .option("header", "true")
      // RFC 4180 doubled-quote escaping, matching the upload parser
      // (CsvUploader.readRaw) so export → upload round-trips values
      // containing quotes or newlines
      .option("escape", "\"").csv(outPath)

  /** Export a table as JSON lines (Datasette's .json view). */
  def exportJson(table: String, outPath: String): Unit =
    read(table).write.mode(SaveMode.Overwrite).json(outPath)

  /** Export a table globally sorted by `sortCols` WITHOUT a
    * single-reducer bottleneck: `orderBy` plans a range exchange —
    * boundaries from a driver-side sample — so every partition sorts
    * its own disjoint key range in parallel and file i holds keys
    * strictly below file i+1 (the lexicographic part-file order IS
    * the total order). This is the "publish a sorted dump" shape;
    * its per-file key disjointness is what ZOrderSpec-style readers
    * and downstream binary-searchers rely on. Plan + file-range
    * invariants are spec-pinned.
    */
  def exportSorted(table: String, outPath: String,
      sortCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    read(table).orderBy(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
  }

  /** Export a table in a GLOBAL deterministic shuffle order — the
    * permutation a training run streams (see
    * [[graft.operators.Pipeline.shuffleOrder]] for the contract):
    * rows ordered by (md5 of the id columns, id columns), so shard i
    * holds a uniform, property-independent slice and the lexicographic
    * part-file order IS the permutation. Same range-exchange shape as
    * [[exportSorted]] — boundaries from a sample, every partition
    * sorts its own disjoint hash range, no single reducer. Re-running
    * the export reproduces the identical order (the hash is of the
    * data, not of any RNG or cluster state).
    */
  def exportShuffled(table: String, outPath: String,
      idCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{col, concat_ws, md5}
    val key = md5(concat_ws("\u0000", idCols.map(c => col(c).cast("string")): _*))
    // the sort key is a uniform hash, so the partition boundaries are
    // ANALYTIC (Ranks.hashOrderedRowNumber's trick): equal-width
    // 60-bit-prefix ranges replace sampled ones, dropping orderBy's
    // range-sampling job -- a full extra read of the table before the
    // one that writes. Partition index = bucket index, so the
    // lexicographic part-file order is still the permutation.
    graft.operators.Ranks.hashRangePartitioned(
        read(table).withColumn("__graft_key", key),
        org.apache.spark.sql.functions.col("__graft_key"),
        org.apache.spark.sql.functions.col("__graft_key") +:
          idCols.map(col))
      .drop("__graft_key")
      .write.mode(SaveMode.Overwrite).parquet(outPath)
  }

  /** Catalog identifier for a bucketed table of this database,
    * unique per FULL database path ([[ServedArtifact.keyOf]]'s
    * basename + path-MD5): every served artifact db is named `db`,
    * and a basename-only identifier let two artifacts re-attach, or
    * re-point, each other's tables in the session catalog. */
  private lazy val bucketedPrefix = s"graft_${ServedArtifact.keyOf(path)}_"

  private def bucketedIdent(table: String): String =
    s"$bucketedPrefix$table".replaceAll("[^A-Za-z0-9_]", "_")

  /** Drop `table`'s bucketed catalog entry, if any; its files stay. */
  private[graft] def unregisterBucketed(table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS ${bucketedIdent(table)}")

  /** Write a table hash-bucketed (and sorted) by `bucketCol`:
    * repeated joins/aggregations on that key then read the
    * co-located layout and skip their exchanges entirely — the
    * pre-shuffle-once, join-many-times layout that pays for itself on
    * every reuse at scale. Registered in the session catalog with the
    * data rooted inside this database directory.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int): Unit = {
    unregisterBucketed(table)
    // One file per bucket: bucket id = pmod(Murmur3(col), n) — the
    // SAME function repartition(n, col) shuffles by — so after the
    // repartition each write task holds exactly one bucket's rows.
    // Without it every input split writes to every bucket
    // (splits × buckets files: 640 tiny files from a 20-shard
    // source at n=32), and the bucketed scan's per-file open/footer
    // overhead erased the exchange win it exists to provide.
    df.repartition(nBuckets, df(bucketCol))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .option("path", tablePath(table))
      .format("parquet")
      .saveAsTable(bucketedIdent(table))
  }

  /** Read a bucketed table with its bucket metadata (required for
    * exchange elision; a plain parquet read of the same files loses
    * the layout).
    */
  def readBucketed(table: String): DataFrame =
    spark.table(bucketedIdent(table))

  /** Drop the cached relation, and its file listing, after files were
    * added to a bucketed table's location outside the writer path (the
    * G10 rename-append): a planned scan otherwise misses them. No
    * bucketed table is cached as data, so unlike `refreshTable` this
    * re-lists nothing now (~25 ms a table); the next query does. */
  def refreshBucketed(table: String): Unit =
    spark.sessionState.catalog.invalidateCachedTable(
      org.apache.spark.sql.catalyst.TableIdentifier(bucketedIdent(table)))

  /** Re-attach an existing bucketed layout to THIS session's catalog
    * without rewriting a byte: the bucket metadata lives in the
    * (session-scoped, in-memory) catalog, so a new JVM would
    * otherwise see perfectly good bucket files as unregistered and
    * rebuild them — a build-once layout must survive process
    * restarts to be worth building. Fails loudly when the path has
    * no data: callers re-attach artifacts whose sidecar vouches for
    * the layout, so a missing one is a fault, not an empty table.
    */
  def registerBucketed(table: String, bucketCol: String,
      nBuckets: Int): Unit =
    registerBucketed(table, bucketCol, nBuckets, read(table).schema)

  /** [[registerBucketed]] with the `schema` of a table that may hold
    * no data file (a bucketed write of no rows writes none). */
  private[graft] def registerBucketed(table: String, bucketCol: String,
      nBuckets: Int, schema: => org.apache.spark.sql.types.StructType): Unit = {
    val ident = bucketedIdent(table)
    if (!spark.catalog.tableExists(ident)) {
      if (!fs.exists(new Path(tablePath(table))))
        throw new IllegalStateException(
          s"no bucketed layout at ${tablePath(table)}")
      val columns = graft.sources.ParquetStats
        .footerSchema(spark, tablePath(table)).getOrElse(schema).toDDL
      spark.sql(
        s"""CREATE TABLE $ident ($columns) USING PARQUET
           |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol)
           |INTO $nBuckets BUCKETS
           |LOCATION '${tablePath(table)}'""".stripMargin)
    }
  }

  /** Write a table hive-partitioned by `partCols`: scans filtered on
    * a partition column list only the matching directories
    * (PartitionFilters in the plan — zero I/O for pruned partitions).
    * The layout for any column a 100 TB table is routinely filtered
    * by (date, source, modality); `read` picks the partition columns
    * back up via directory discovery.
    */
  def writePartitioned(df: DataFrame, table: String,
      partCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
      .parquet(tablePath(table))

  /** Write a table clustered on the Z-order curve of `zCols`
    * (SURVEY.md §2.H12): range-partition on the interleaved value,
    * sort within partitions, write. Each output file then covers a
    * compact curve segment, so the parquet min/max stats of EVERY
    * participating column are narrow per file and a range predicate
    * on any of them prunes most files — multi-dimensional layout
    * pruning, where a single-column sort only serves one predicate
    * column. The curve column itself is dropped before the write:
    * it's a layout key, not data.
    */
  def writeZOrdered(df: DataFrame, table: String, zCols: Seq[String],
      nFiles: Int): Unit =
    writeZOrdered(df, table, zCols, nFiles, Map.empty, None)

  /** [[writeZOrdered]] with caller-supplied curve bounds (r16 OPT,
    * guide §6: footer statistics over data scans). When `boundsHint`
    * covers every z-column AND `rowCountHint` is known, the
    * bounds-derivation agg — a full read of every z-column, corpus-
    * scale at 100 TB — is skipped outright; the hints must be EXACT
    * (parquet INT64 footer min/max are), because they fix the curve
    * normalization every later append inherits. Partial hints fall
    * back to the agg for everything (the pass reads all the columns
    * anyway).
    */
  def writeZOrdered(df: DataFrame, table: String, zCols: Seq[String],
      nFiles: Int, boundsHint: Map[String, (Long, Long)],
      rowCountHint: Option[Long]): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    // Interleaving RAW values lets the widest column's high bits
    // dominate the curve (its top bits sit above every bit the
    // narrower columns can set), collapsing the layout back to a
    // single-column sort. Normalize each column onto the curve's
    // per-column bit budget first: shift (x − min) so the observed
    // span occupies exactly ⌊63/k⌋ bits. One metadata-scale min/max
    // pass (the same range-bound pass Delta's ZORDER does); the span
    // is computed in BigInt because a full-range signed column (e.g.
    // xxhash64 keys, lo≈Long.Min, hi≈Long.Max) wraps `hi - lo`
    // negative in 64-bit arithmetic (r15 review).
    val bits = 63 / zCols.size
    def metaOf(c: String, lo: Long, hi: Long): ZColMeta = {
      val span = (BigInt(hi) - BigInt(lo)).max(BigInt(1))
      val spanBits = span.bitLength
      ZColMeta(c, lo, hi, spanBits - bits)
    }
    val hinted = rowCountHint.isDefined && zCols.forall(boundsHint.contains)
    val metas: Seq[ZColMeta] = if (hinted) {
      if (rowCountHint.get == 0L) return
      zCols.map { c => val (lo, hi) = boundsHint(c); metaOf(c, lo, hi) }
    } else {
      val aggs = count(lit(1)) +:
        zCols.flatMap(c =>
          Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
      val stats = df.agg(aggs.head, aggs.tail: _*).head()
      // Empty INPUT: nothing to lay out — leave the table
      // un-bootstrapped so upsertZOrdered's next non-empty batch lays
      // it out (a streaming foreachBatch can legitimately deliver an
      // empty first batch). A z-column with NO derivable bounds over a
      // NON-empty input (entirely null, or not castable to long — e.g.
      // a string column) is a caller error and is named LOUDLY: the
      // r15 review found the all-uncastable case taking the silent
      // empty-input return, leaving no table and no error.
      if (stats.getLong(0) == 0L) return
      val nullCols = zCols.zipWithIndex.filter { case (_, i) =>
        stats.isNullAt(1 + 2 * i) }.map(_._1)
      require(nullCols.isEmpty,
        s"writeZOrdered: z-column(s) ${nullCols.mkString(", ")} are " +
          "entirely NULL (or not castable to long); cannot derive curve " +
          "bounds over a non-empty input")
      zCols.zipWithIndex.map { case (c, i) =>
        metaOf(c, stats.getLong(1 + 2 * i), stats.getLong(2 + 2 * i))
      }
    }
    df.withColumn("__z", zCurve(metas))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(tablePath(table))
    val names = fs.listStatus(new Path(tablePath(table)))
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).toSeq
    writeZMeta(table, metas, fileRanges(names, metas))
  }

  /** Merge a new batch into a Z-ordered table by rewriting ONLY the
    * curve segments the batch overlaps — the incremental maintenance
    * step that keeps a 100 TB clustered table clustered without the
    * full-table rewrite: a batch touching a narrow key region
    * rewrites a handful of files and every other file (and its page
    * cache, its replicas, its scan statistics) is untouched.
    *
    * Mechanics: the sidecar curve metadata written by
    * [[writeZOrdered]] fixes the normalization (so the curve space is
    * stable across appends; out-of-range values clamp, costing only
    * locality at the edges) and the per-file curve ranges. Each batch
    * row maps to the file whose segment contains its curve value;
    * touched files + batch are re-sorted and rewritten, the sidecar
    * is updated. Crash-safe via the sidecar-authority recovery in
    * [[recoverZ]]; not atomic for concurrent readers — the same
    * reader contract as [[compact]] (which also discards the
    * clustering; re-run writeZOrdered after compacting).
    */
  def appendZOrdered(table: String, batch: DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    recoverZ(table)
    val (metas, files0) = readZMeta(table)
    val files = files0.sortBy(_.zmin)
    // __fi = index of the last file with zmin ≤ z (first file catches
    // everything below the global min). Binary search per row —
    // O(log F) and constant generated-code size, where a chained-when
    // sum is O(F) per row and outgrows the 64KB codegen method limit
    // at real file counts.
    // NULL z-values (a null z-column on some row — which the
    // bootstrap path admits as long as the column has SOME data)
    // yield a null curve value; route them to segment 0
    // deterministically (bootstrap's range partitioning sorts nulls
    // first, i.e. into the lowest file) instead of NPE-ing the
    // foreachBatch on `getInt` below (r15 review — a permanent
    // stream failure, replayed forever).
    val idxExpr = org.apache.spark.sql.functions.coalesce(
      graft.functions.GraftFunctions.segmentIndex(
        col("__z"), files.map(_.zmin).toArray),
      org.apache.spark.sql.functions.lit(0))
    val assigned = batch.withColumn("__z", zCurve(metas))
      .withColumn("__fi", idxExpr)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val touched = assigned.select(col("__fi")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) { assigned.unpersist(blocking = false); return }
    val touchedNames = touched.map(files(_).name)
    val stage = new Path(tablePath(s"_zstage_$table"))
    spark.read
      .parquet(touchedNames.map(n => s"${tablePath(table)}/$n"): _*)
      .withColumn("__z", zCurve(metas)).withColumn("__fi", idxExpr)
      .unionByName(assigned)
      .repartitionByRange(touched.length, col("__fi"), col("__z"))
      .sortWithinPartitions(col("__fi"), col("__z"))
      .drop("__z", "__fi")
      .write.mode(SaveMode.Overwrite).parquet(stage.toString)
    assigned.unpersist(blocking = false)
    commitZRewrite(table, metas,
      files.filterNot(f => touchedNames.contains(f.name)),
      touchedNames.toSeq, stage)
  }

  /** Commit protocol shared by [[appendZOrdered]] and [[rebalanceZ]]
    * (the sidecar is the authority — see [[recoverZ]]): back the
    * replaced files out, move the staged files in, THEN publish the
    * new sidecar, then drop the backup. A crash at any point leaves a
    * state recoverZ restores exactly.
    */
  private def commitZRewrite(table: String, metas: Seq[ZColMeta],
      keep: Seq[ZFileMeta], replaced: Seq[String], stage: Path): Unit = {
    val backup = new Path(tablePath(s"_zold_$table"))
    fs.mkdirs(backup)
    replaced.foreach(n =>
      Publish.move(fs, new Path(tablePath(table), n), new Path(backup, n)))
    val moved = fs.listStatus(stage)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map { s =>
        val dst = new Path(tablePath(table), s.getPath.getName)
        Publish.move(fs, s.getPath, dst)
        dst.toString
      }.toSeq
    writeZMeta(table, metas, keep ++ fileRanges(moved, metas))
    fs.delete(backup, true)
    fs.delete(stage, true)
  }

  /** Rebalance a z-ordered table whose file sizes drifted: repeated
    * [[appendZOrdered]] batches hitting a narrow key region fatten
    * the overlapped segments while the rest stay small, and both
    * directions hurt (fat files → stragglers and coarse pruning;
    * slivers → file-count overheads). Policy: a file has drifted when
    * outside [target/4, 2·target]; maximal runs of ADJACENT drifted
    * files are rewritten together, range-partitioned on the curve
    * into ⌈runBytes/target⌉ files (one run of slivers merges, one
    * oversized file splits); a run too small to reach target/4 on its
    * own absorbs its smaller healthy neighbor so merges have
    * material. Everything outside the runs is untouched — the same
    * minority-rewrite economics as the append path, with the same
    * crash-safe commit. Within a run the rewrite is range-partitioned
    * by __z, so per-file curve ranges stay disjoint.
    */
  def rebalanceZ(table: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    import org.apache.spark.sql.functions.col
    recoverZ(table)
    val (metas, files0) = readZMeta(table)
    if (files0.size <= 1) return
    val dir = new Path(tablePath(table))
    val sizes = fs.listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(s => s.getPath.getName -> s.getLen).toMap
    val files = files0.sortBy(_.zmin)
    val lo = targetBytes / 4
    val hi = targetBytes * 2
    def bytesOf(i: Int): Long = sizes.getOrElse(files(i).name, 0L)
    val drifted = files.indices.filter(i =>
      bytesOf(i) > hi || bytesOf(i) < lo)
    if (drifted.isEmpty) return
    // maximal runs of consecutive indices
    var runs = drifted.foldLeft(List.empty[(Int, Int)]) {
      case ((s, e) :: rest, i) if i == e + 1 => (s, i) :: rest
      case (acc, i) => (i, i) :: acc
    }.reverse
    // a starved run (can't reach lo alone) absorbs its smaller
    // healthy neighbor, without ever overlapping the next run
    runs = runs.zipWithIndex.map { case ((s, e), ri) =>
      val runBytes = (s to e).map(bytesOf).sum
      if (runBytes >= lo) (s, e)
      else {
        val prevEnd = if (ri == 0) -1 else runs(ri - 1)._2
        val nextStart =
          if (ri == runs.size - 1) files.size else runs(ri + 1)._1
        val canPrev = s - 1 > prevEnd
        val canNext = e + 1 < nextStart
        if (canPrev && (!canNext || bytesOf(s - 1) <= bytesOf(e + 1)))
          (s - 1, e)
        else if (canNext) (s, e + 1)
        else (s, e)
      }
    }
    // absorption can make neighbors adjacent — merge any overlap
    runs = runs.foldLeft(List.empty[(Int, Int)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 + 1 =>
        (s0, math.max(e0, e)) :: rest
      case (acc, r) => r :: acc
    }.reverse
    runs.foreach { case (s, e) =>
      val names = (s to e).map(files(_).name)
      val runBytes = (s to e).map(bytesOf).sum
      val nOut = math.max(1, math.round(runBytes.toDouble / targetBytes).toInt)
      val stage = new Path(tablePath(s"_zstage_$table"))
      spark.read.parquet(names.map(n => s"${tablePath(table)}/$n"): _*)
        .withColumn("__z", zCurve(metas))
        .repartitionByRange(nOut, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
        .write.mode(SaveMode.Overwrite).parquet(stage.toString)
      val (_, cur) = readZMeta(table)
      commitZRewrite(table, metas,
        cur.filterNot(f => names.contains(f.name)), names, stage)
    }
  }

  /** Restore the sidecar-consistent state after a crashed
    * [[appendZOrdered]]: the sidecar names exactly the files the
    * table must contain, so recovery is mechanical — drop any
    * part-file the sidecar doesn't know (a half-moved stage), restore
    * any sidecar file missing from the table out of the backup dir,
    * then clear backup/stage. Before the new sidecar publishes this
    * rolls the append back; after, it only sweeps the leftovers.
    */
  private def recoverZ(table: String): Unit = {
    val backup = new Path(tablePath(s"_zold_$table"))
    val stage = new Path(tablePath(s"_zstage_$table"))
    if (!fs.exists(backup) && !fs.exists(stage)) return
    val (_, metaFiles) = readZMeta(table)
    fs.delete(new Path(tablePath(table), "_zorder_meta.tsv.tmp"), false)
    fs.delete(zMetaBakPath(table), false)
    val known = metaFiles.map(_.name).toSet
    val dir = new Path(tablePath(table))
    fs.listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .filterNot(s => known.contains(s.getPath.getName))
      .foreach(s => fs.delete(s.getPath, false))
    if (fs.exists(backup)) {
      known.filterNot(n => fs.exists(new Path(dir, n)))
        .foreach { n =>
          val src = new Path(backup, n)
          if (fs.exists(src)) Publish.move(fs, src, new Path(dir, n))
        }
    }
    fs.delete(backup, true)
    fs.delete(stage, true)
  }

  /** Bootstrap-or-append: the per-microbatch form for streaming
    * ingest into a clustered table (`foreachBatch` hands every batch
    * here and the table never stops being z-ordered). First batch
    * lays out the table and fixes the curve normalization; later
    * batches merge via [[appendZOrdered]], rewriting only overlapping
    * segments.
    */
  def upsertZOrdered(table: String, batch: DataFrame, zCols: Seq[String],
      nFiles: Int): Unit =
    // Bootstrapped means "a complete sidecar exists", and after a
    // crash inside writeZMeta's swap the last complete sidecar is the
    // .bak (meta moved aside, tmp not yet moved in).
    // Testing zMetaPath alone would misread that state as
    // un-bootstrapped and writeZOrdered's SaveMode.Overwrite would
    // replace the whole table with just this batch — silent data
    // loss. appendZOrdered's readZMeta restores the .bak.
    if (fs.exists(zMetaPath(table)) || fs.exists(zMetaBakPath(table)))
      appendZOrdered(table, batch)
    else writeZOrdered(batch, table, zCols, nFiles)

  /** Normalization of one clustered column (see [[writeZOrdered]]). */
  private case class ZColMeta(name: String, lo: Long, hi: Long, shift: Int)
  private case class ZFileMeta(name: String, zmin: Long, zmax: Long)

  /** The curve key: clamp into the recorded bounds, rebase, shift
    * onto the bit budget, interleave — the normalization is the
    * NATIVE [[graft.functions.expressions.ZNormalize]] (r15 review):
    * the Column-arithmetic form could not express the semantics for
    * a full-range column (lo≈Long.Min, hi≈Long.Max — xxhash64 keys),
    * where the rebase must WRAP (ANSI `-` throws ARITHMETIC_OVERFLOW)
    * and the down-shift must be logical (`shiftright` sign-extends,
    * diverging from the driver twin [[zVal]]'s `>>>` and putting
    * sidecar corner ranges in a different space than row curve
    * values).
    */
  private def zCurve(metas: Seq[ZColMeta]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.col
    graft.functions.GraftFunctions.zorder(metas.map(m =>
      graft.functions.GraftFunctions.znormalize(
        col(m.name).cast("long"), m.lo, m.hi, m.shift)): _*)
  }

  /** Driver twin of [[zCurve]] for corner points. */
  private def zVal(metas: Seq[ZColMeta], vals: Seq[Long]): Long = {
    val k = metas.size
    val bits = 63 / k
    var z = 0L
    for (j <- 0 until k) {
      val m = metas(j)
      val c = math.min(math.max(vals(j), m.lo), m.hi) - m.lo
      val n = if (m.shift > 0) c >>> m.shift
        else if (m.shift < 0) c << -m.shift else c
      for (i <- 0 until bits) z |= ((n >>> i) & 1L) << (i * k + j)
    }
    z
  }

  /** Per-file curve ranges from per-file column min/max (the Morton
    * interleave is monotone in each coordinate, so a file's curve
    * range is the curve value of its min/max corners — at real scale
    * this reads parquet FOOTERS only; here it's a column-pruned agg
    * scan of the named files).
    */
  private def fileRanges(paths: Seq[String],
      metas: Seq[ZColMeta]): Seq[ZFileMeta] = {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    val aggs = metas.flatMap(m =>
      Seq(min(col(m.name)).cast("long"), max(col(m.name)).cast("long")))
    spark.read.parquet(paths: _*)
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        // a file whose z-column is entirely null (range partitioning
        // packs nulls-first rows together) has no corner stats —
        // treat the missing corner as the column's lower bound, the
        // same place appendZOrdered routes null-curve rows
        def corner(i: Int, fallback: Long): Long =
          if (r.isNullAt(i)) fallback else r.getLong(i)
        val los = metas.indices.map(i => corner(1 + 2 * i, metas(i).lo))
        val his = metas.indices.map(i => corner(2 + 2 * i, metas(i).lo))
        ZFileMeta(new Path(r.getString(0)).getName,
          zVal(metas, los), zVal(metas, his))
      }.toSeq
  }

  /** Sidecar layout metadata, underscore-named so parquet readers
    * skip it. Plain TSV: `col name lo hi shift` / `file name zmin
    * zmax` lines.
    */
  private def zMetaPath(table: String): Path =
    new Path(tablePath(table), "_zorder_meta.tsv")

  private def writeZMeta(table: String, metas: Seq[ZColMeta],
      files: Seq[ZFileMeta]): Unit = {
    val sb = new StringBuilder
    metas.foreach(m =>
      sb.append(s"col\t${m.name}\t${m.lo}\t${m.hi}\t${m.shift}\n"))
    files.foreach(f =>
      sb.append(s"file\t${f.name}\t${f.zmin}\t${f.zmax}\n"))
    // The sidecar is the recovery AUTHORITY — it must never be
    // half-written (an in-place overwrite truncated by a crash would
    // shrink `known` and make recoverZ delete good files): a complete
    // tmp is swapped in, so every crash window leaves either the old
    // sidecar, the .bak (readZMeta heals from it), or the new sidecar.
    val tmp = new Path(tablePath(table), "_zorder_meta.tsv.tmp")
    val out = fs.create(tmp, true)
    try out.write(sb.toString.getBytes("UTF-8")) finally out.close()
    Publish.swap(fs, tmp, zMetaPath(table), zMetaBakPath(table))
  }

  private def zMetaBakPath(table: String): Path =
    new Path(tablePath(table), "_zorder_meta.tsv.bak")

  private def readZMeta(table: String): (Seq[ZColMeta], Seq[ZFileMeta]) = {
    // A crash inside writeZMeta's swap leaves only the .bak — the
    // last complete sidecar; restore it before reading.
    Publish.heal(fs, zMetaPath(table), zMetaBakPath(table))
    val in = fs.open(zMetaPath(table))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.linesIterator.filter(_.nonEmpty).map(_.split("\t")).toSeq
    (lines.collect { case Array("col", n, lo, hi, sh) =>
        ZColMeta(n, lo.toLong, hi.toLong, sh.toInt) },
      lines.collect { case Array("file", n, zmin, zmax) =>
        ZFileMeta(n, zmin.toLong, zmax.toLong) })
  }

  /** Row/byte statistics for a table, persisted by [[analyze]] —
    * the catalog state that lets join planning distinguish "known
    * small" from "unknown size" without re-listing the table.
    */
  case class TableStats(rows: Long, bytes: Long, analyzedAt: String)

  private def statsPath(table: String): Path =
    new Path(tablePath(table), "_table_stats.tsv")

  /** ANALYZE: collect row count + on-disk bytes into a sidecar. The
    * byte size comes from a directory listing; the row count is a
    * count() whose parquet form is answered from row-group metadata,
    * not a data scan, when aggregate pushdown applies — either way
    * this is an explicit, amortized action, the same contract as SQL
    * ANALYZE. Underscore-named so parquet readers skip it.
    */
  def analyze(table: String): TableStats = {
    val rows = read(table).count()
    val bytes = fs.getContentSummary(new Path(tablePath(table))).getLength
    val stats = TableStats(rows, bytes, java.time.Instant.now().toString)
    val out = fs.create(statsPath(table), true)
    try out.write(
      s"${stats.rows}\t${stats.bytes}\t${stats.analyzedAt}\n".getBytes("UTF-8"))
    finally out.close()
    stats
  }

  def tableStats(table: String): Option[TableStats] = {
    if (!fs.exists(statsPath(table))) return None
    val in = fs.open(statsPath(table))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    text.trim.split("\t") match {
      case Array(r, b, at) => Some(TableStats(r.toLong, b.toLong, at))
      case _ => None
    }
  }

  /** Read a table for the dimension side of a join, attaching a
    * broadcast hint ONLY when [[analyze]]d statistics prove it under
    * `maxBroadcastBytes`. The inversion matters at scale: a plain
    * `broadcast(read(t))` hint is an unconditional command that
    * bypasses Spark's size threshold (executor OOM when t turns out
    * to be 10^10 rows), whereas this path degrades to an unhinted
    * read — AQE still picks broadcast at runtime if the table is
    * small, so nothing is lost when stats are missing or stale-large.
    */
  def readDim(table: String,
      maxBroadcastBytes: Long = 64L * 1024 * 1024): DataFrame = {
    val df = read(table)
    tableStats(table) match {
      case Some(s) if s.bytes <= maxBroadcastBytes =>
        org.apache.spark.sql.functions.broadcast(df)
      case _ => df
    }
  }

  /** Arbitrary SQL over this database's tables — the analog of the
    * query interface the reference hands its uploaded tables to
    * (Datasette's raison d'être). Tables are exposed as temp views
    * under their bare names; the full Spark SQL dialect applies.
    *
    * Only the tables the query NAMES are registered: a table whose
    * name occurs, case-insensitively, as an identifier token of the
    * query text (split on `[^A-Za-z0-9_]+`). Each registration is a
    * [[read]] (a listing and a footer on the driver), so registering
    * every table made one query pay one read per table.
    * The token set is a superset of the relations the query can name
    * (CTEs, joins, subqueries, string literals), so over-matching
    * costs an extra read and never drops a table the query uses.
    * Internal underscore tables are queryable too — the reference
    * exposes `_csv_progress_` to its SQL surface (its tests poll
    * upload progress by query, tests:170-184). A named table that
    * cannot be read (a corrupt table, an empty `_csv_progress_`
    * directory) fails the call with its read error. Only
    * identifier-safe names can be views; "weird ~ name.csv" style
    * tables remain readable through [[read]].
    *
    * Temp views are shared by every database in a session, so a name
    * this database lacks could still resolve to a view an earlier
    * call on ANOTHER database registered. Every name the query names that some
    * graft database registered and that is absent here is dropped
    * first, so the query fails with table-not-found rather than
    * reading another database's rows. Views graft did not register
    * are never touched. Limit: a user temp view defined over a graft
    * view is refreshed only when the query also names the underlying
    * table.
    */
  def sql(query: String): DataFrame = {
    val named = query.split("[^A-Za-z0-9_]+").map(_.toLowerCase(Locale.ROOT)).toSet
    val p = new Path(path)
    val tables =
      if (!fs.exists(p)) Seq.empty[String]
      else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
        .filter(t => t.matches("[A-Za-z_][A-Za-z0-9_]*") &&
          named(t.toLowerCase(Locale.ROOT)))
    val registered = GraftDatabase.viewsOf(spark)
    tables.foreach { t =>
      read(t).createOrReplaceTempView(t)
      registered.add(t.toLowerCase(Locale.ROOT))
    }
    for (n <- named -- tables.map(_.toLowerCase(Locale.ROOT)) if registered.remove(n))
      spark.catalog.dropTempView(n)
    spark.sql(query)
  }

  /** Compact a table to ~targetBytes files: streaming appends and
    * per-batch inserts accumulate small files, and at scale the file
    * count (driver memory, listing time, task overhead) degrades
    * every later scan. The rewrite publishes through [[replaceTable]]'s
    * swap, with its crash recovery and its reader contract.
    */
  def compact(table: String, targetBytes: Long = 128L * 1024 * 1024): Unit = {
    Publish.heal(fs, new Path(tablePath(table)),
      new Path(tablePath(s"_old_$table")))
    val bytes = fs.getContentSummary(new Path(tablePath(table))).getLength
    replaceTable(read(table).repartition(
      math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)), table)
  }

  /** Replace `table`'s contents with `df`: write to a scratch dir,
    * then [[Publish.swap]] it in through the backup `_old_<table>`.
    * Unlike `SaveMode.Overwrite` on the live path — which DELETES the
    * current files before the job's first commit, so a concurrent
    * reader planning mid-write sees an empty or partial table — the
    * readable window here is two metadata renames. Built
    * for the served-model maintainers (G22 gate recalibration): a
    * serving stream re-plans the static side per micro-batch and must
    * never observe a half-published model.
    *
    * NOT atomic for concurrent readers: HDFS/local rename cannot swap
    * two directories in one operation, so a reader racing the swap
    * can observe a missing table path between the two moves. A crash
    * there strands the table in `_old_<table>`, which the next
    * replaceTable (or compact) restores: no data is lost. True atomic
    * swap needs a table format with a metadata pointer, out of scope.
    */
  def replaceTable(df: DataFrame, table: String): Unit = {
    val tmp = new Path(tablePath(s"_swap_$table"))
    fs.delete(tmp, true)
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    Publish.swap(fs, tmp, new Path(tablePath(table)),
      new Path(tablePath(s"_old_$table")))
  }

  // ---- H18: versioned tables (snapshot reads / time travel) ------
  //
  // Layout (inside the table dir, so the table lists normally):
  //   <table>/_versions/v00001/…parquet   — IMMUTABLE once renamed in
  //   <table>/_current                    — one line naming the
  //                                         served version
  // Publish protocol: stage → Publish.move into _versions (an
  // existing version is refused with an exception, so two writers
  // cannot silently interleave) → flip the pointer file. The pointer
  // flip is delete+move, so there is a crash window with NO pointer —
  // readers then fall back to the HIGHEST published version, which
  // the protocol makes identical to what the pointer would have said
  // (the data move strictly precedes the pointer flip), and the next
  // write re-heals the pointer. Versions are immutable: a reader
  // pinned to vN (a reproducible training run reading "corpus @ vN")
  // is unaffected by later writes; only [[vacuumVersions]] deletes,
  // never the current version — the Delta-style retention contract.
  // Single concurrent writer per table, like [[replaceTable]].

  private def versionsDir(table: String) =
    new Path(tablePath(table), "_versions")
  private def currentPtr(table: String) =
    new Path(tablePath(table), "_current")
  private def vName(v: Int) = f"v$v%05d"

  private def publishedVersions(table: String): Seq[Int] = {
    val vd = versionsDir(table)
    if (!fs.exists(vd)) return Seq.empty
    fs.listStatus(vd).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d{5}")).map(_.drop(1).toInt).sorted
  }

  /** The served version: the pointer file if present, else the
    * highest published version (the pointer-flip crash window; the
    * two agree by protocol). */
  def currentVersion(table: String): Int = {
    val ptr = currentPtr(table)
    if (fs.exists(ptr)) {
      val in = fs.open(ptr)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      s.trim.drop(1).toInt
    } else publishedVersions(table).lastOption.getOrElse(
      throw new java.io.FileNotFoundException(
        s"no published versions for $table"))
  }

  /** Publish `df` as the next version of `table`; returns the new
    * version number. Prior versions stay readable until vacuumed. */
  def writeVersioned(df: DataFrame, table: String): Int = {
    val tdir = new Path(tablePath(table))
    fs.mkdirs(versionsDir(table))
    // clean stranded stagings from a crashed writer (single-writer
    // contract makes this safe)
    fs.listStatus(new Path(tablePath(table))).toSeq
      .filter(_.getPath.getName.startsWith("_staging_"))
      .foreach(s => fs.delete(s.getPath, true))
    val next = publishedVersions(table).lastOption.getOrElse(0) + 1
    val staging = new Path(tdir, s"_staging_${vName(next)}")
    df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    Publish.move(fs, staging, new Path(versionsDir(table), vName(next)))
    val tmp = new Path(tdir, "_current_tmp")
    val out = fs.create(tmp, true)
    try out.write(vName(next).getBytes("UTF-8")) finally out.close()
    // delete-then-move, not a swap: with no pointer the highest
    // published version serves, which is the new one; healing a
    // backup pointer would serve the older version for a while
    fs.delete(currentPtr(table), false)
    Publish.move(fs, tmp, currentPtr(table))
    next
  }

  /** Snapshot read of the current version. */
  def readVersioned(table: String): DataFrame =
    readVersioned(table, currentVersion(table))

  /** Snapshot read of a specific version (time travel). */
  def readVersioned(table: String, version: Int): DataFrame =
    graft.sources.ParquetStats.read(spark,
      new Path(versionsDir(table), vName(version)).toString)

  /** (version, n_files, bytes, published_ms) per published version,
    * ascending — the audit surface for retention decisions. */
  def versionHistory(table: String): DataFrame = {
    import spark.implicits._
    publishedVersions(table).map { v =>
      val p = new Path(versionsDir(table), vName(v))
      val st = fs.listStatus(p).toSeq.filter(_.isFile)
      (v, st.count(_.getPath.getName.endsWith(".parquet")),
        st.map(_.getLen).sum, fs.getFileStatus(p).getModificationTime)
    }.toDF("version", "n_files", "bytes", "published_ms")
  }

  /** Delete all but the newest `keepLast` versions — NEVER the
    * current one, whatever `keepLast` says. Returns what was
    * deleted. A reader pinned below the retention horizon breaks,
    * exactly like any vacuum; pick `keepLast` from
    * [[versionHistory]] accordingly. */
  def vacuumVersions(table: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val cur = currentVersion(table)
    val all = publishedVersions(table)
    val victims = all.dropRight(keepLast).filterNot(_ == cur)
    victims.foreach(v =>
      fs.delete(new Path(versionsDir(table), vName(v)), true))
    victims
  }

  /** Recursively remove the whole database. */
  def drop(): Unit = fs.delete(new Path(path), true)

  lazy val progress: ProgressTracker = new ProgressTracker(this)
}

object GraftDatabase {
  /** Lower-cased names [[GraftDatabase.sql]] registered as temp views,
    * per session (temp views are session-scoped) — held weakly, so a
    * dead session's set is collectable. A name leaves the set when
    * graft drops its view.
    */
  private val sqlViews = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.Set[String]]())

  private def viewsOf(spark: SparkSession): java.util.Set[String] =
    sqlViews.computeIfAbsent(spark,
      _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())

  def apply(spark: SparkSession, path: String): GraftDatabase =
    new GraftDatabase(spark, path)
}
