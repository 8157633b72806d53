package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** D7: HNSW-style graph ANN (SURVEY.md §2.D, §7 r4 stretch).
  *
  * HNSW (Malkov & Yashunin, 2016) is a sequential in-memory insert
  * algorithm; the Spark-native shape is the one production systems
  * shard it into: build an independent graph PER PARTITION inside
  * `mapPartitions`, fan each (broadcast) query out to every
  * partition's graph, and merge the per-partition candidates with the
  * same partial top-k aggregator D1/D2 use — only q·k rows per
  * partition cross the merge shuffle.
  *
  * Scale accounting at 100 TB: graph build is embarrassingly parallel
  * (no shuffle at all — each executor indexes only the partition it
  * already holds, O(n·ef·M) per partition), and per-query search cost
  * is O(P·ef·M) — independent of corpus size within a partition,
  * which is the whole point of the graph vs the O(n) brute scan.
  * Memory: one partition's vectors + adjacency must fit an executor
  * core, the same bound `spark.sql.files.maxPartitionBytes` already
  * enforces for any columnar scan (adjacency adds ~M ints/node).
  * [[hnswTopk]] builds ephemeral graphs inline;
  * [[buildHnswIndex]]/[[hnswTopkFromIndex]] persist them as blob
  * rows and serve without rebuilding (the D9 lifecycle).
  *
  * Determinism (spec-pinned): insertion order is the partition
  * iterator's order, node levels derive from a splitmix64 hash of
  * vec_id (not a RNG), and every comparison tie-breaks on id — same
  * inputs, same graph, same results.
  */
object Hnsw {

  /** Unit-normalize in doubles so cosine(a, b) = dot(â, b̂). */
  private def normalize(v: Array[Double]): Array[Double] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v
    else {
      val out = new Array[Double](v.length)
      i = 0
      while (i < v.length) { out(i) = v(i) / n; i += 1 }
      out
    }
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Deterministic level for a node: splitmix64(vec_id) → uniform in
    * (0,1) → geometric-ish ⌊−ln(u)·mL⌋, the HNSW level law with the
    * RNG replaced by a hash so rebuilds are reproducible.
    */
  private def levelOf(id: Long, mL: Double): Int = {
    var z = id + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    val u = ((z >>> 11).toDouble + 1.0) / (1L << 53).toDouble // (0,1]
    math.min((-math.log(u) * mL).toInt, 31)
  }

  /** One partition's hierarchical graph over `vecs` (unit vectors).
    * `adj(l)(n)` lists n's neighbors on layer l (layer 0 = all nodes).
    */
  private final class Graph(vecs: Array[Array[Double]], ids: Array[Long],
      m: Int, efConstruction: Int) {
    private val mL = 1.0 / math.log(m.toDouble)
    private val maxM0 = 2 * m
    private val levels: Array[Int] = ids.map(levelOf(_, mL))
    private val adj: Array[Array[mutable.ArrayBuffer[Int]]] =
      Array.tabulate(vecs.length) { n =>
        Array.fill(levels(n) + 1)(new mutable.ArrayBuffer[Int](m))
      }
    private var entry: Int = -1

    // sim desc, id asc — the one ordering used everywhere
    private def better(s1: Double, n1: Int, s2: Double, n2: Int): Boolean =
      s1 > s2 || (s1 == s2 && ids(n1) < ids(n2))

    /** Beam search on layer `l` from `from`, beam width `ef`;
      * returns candidates sorted best-first.
      */
    private def searchLayer(q: Array[Double], from: Int, l: Int,
        ef: Int): mutable.ArrayBuffer[(Double, Int)] = {
      val visited = mutable.HashSet[Int](from)
      // PriorityQueue dequeues the ordering's MAX: frontier ranks the
      // best candidate greatest, results the worst (so overflow
      // eviction drops the worst and head reads the current worst).
      val bestFirst: Ordering[(Double, Int)] =
        Ordering.fromLessThan((a, b) => better(b._1, b._2, a._1, a._2))
      val frontier =
        mutable.PriorityQueue((dot(q, vecs(from)), from))(bestFirst)
      val results =
        mutable.PriorityQueue((dot(q, vecs(from)), from))(bestFirst.reverse)
      while (frontier.nonEmpty) {
        val (cs, c) = frontier.dequeue()
        val (ws, w) = results.head
        if (results.size >= ef && better(ws, w, cs, c)) frontier.clear()
        else adj(c)(l).foreach { n =>
          if (visited.add(n)) {
            val s = dot(q, vecs(n))
            val (ws2, w2) = results.head
            if (results.size < ef || better(s, n, ws2, w2)) {
              frontier.enqueue((s, n))
              results.enqueue((s, n))
              if (results.size > ef) results.dequeue()
            }
          }
        }
      }
      val out = mutable.ArrayBuffer.from(results)
      out.sortInPlace()(Ordering.fromLessThan[(Double, Int)](
        (a, b) => better(a._1, a._2, b._1, b._2)))
      out
    }

    /** Greedy single-step descent on layers above `toLayer`. */
    private def descend(q: Array[Double], from: Int, fromLayer: Int,
        toLayer: Int): Int = {
      var cur = from
      var l = fromLayer
      while (l > toLayer) {
        var improved = true
        while (improved) {
          improved = false
          var curSim = dot(q, vecs(cur))
          adj(cur)(l).foreach { n =>
            val s = dot(q, vecs(n))
            if (better(s, n, curSim, cur)) { cur = n; curSim = s; improved = true }
          }
        }
        l -= 1
      }
      cur
    }

    def insert(n: Int): Unit = {
      if (entry < 0) { entry = n; return }
      val q = vecs(n)
      val lNew = levels(n)
      val lEntry = levels(entry)
      // greedy-descend every layer ABOVE the top beam layer
      // (descend processes layers fromLayer..toLayer+1, same call
      // shape as search()'s descend-to-0-then-beam-at-0)
      var ep = descend(q, entry, lEntry, math.min(lEntry, lNew))
      var l = math.min(lEntry, lNew)
      while (l >= 0) {
        val cands = searchLayer(q, ep, l, efConstruction)
        val cap = if (l == 0) maxM0 else m
        val selected = cands.iterator.filter(_._2 != n).take(m).toArray
        selected.foreach { case (_, nb) =>
          adj(n)(l) += nb
          adj(nb)(l) += n
          if (adj(nb)(l).size > cap) {
            // prune the worst link (relative to nb) to keep degree bounded
            val v = vecs(nb)
            val worst = adj(nb)(l).minBy(x => (dot(v, vecs(x)), -ids(x)))
            adj(nb)(l) -= worst
          }
        }
        ep = if (cands.nonEmpty) cands.head._2 else ep
        l -= 1
      }
      if (lNew > lEntry) entry = n
    }

    def search(q: Array[Double], k: Int, ef: Int): Seq[(Long, Double)] = {
      if (entry < 0) return Nil
      val ep = descend(q, entry, levels(entry), 0)
      searchLayer(q, ep, 0, math.max(ef, k)).iterator
        .take(k).map { case (s, n) => (ids(n), s) }.toSeq
    }

    // persisted-lifecycle hooks: adjacency out for serialization,
    // adjacency in for a graph restored WITHOUT re-running inserts
    // (levels recompute from the id hash — deterministic by design)
    def exportAdj: Array[Array[Array[Int]]] = adj.map(_.map(_.toArray))
    def exportEntry: Int = entry
    def importAdj(adjIn: Array[Array[Array[Int]]], entryIn: Int): Unit = {
      var n = 0
      while (n < adjIn.length) {
        var l = 0
        while (l < adjIn(n).length) {
          adj(n)(l).clear()
          adj(n)(l) ++= adjIn(n)(l)
          l += 1
        }
        n += 1
      }
      entry = entryIn
    }
  }

  /** Compact binary snapshot of one partition's graph: header (node
    * count, dim, m, entry) then per node (id, vector, per-layer
    * neighbor lists). Vectors ride IN the blob — the graph is only
    * searchable with them, and a serve task must not re-join the
    * corpus to use its index.
    */
  private def serializeGraph(g: Graph, ids: Array[Long],
      vecs: Array[Array[Double]], m: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(
      new java.util.zip.GZIPOutputStream(bos))
    val adj = g.exportAdj
    out.writeInt(ids.length)
    out.writeInt(if (vecs.isEmpty) 0 else vecs(0).length)
    out.writeInt(m)
    out.writeInt(g.exportEntry)
    var n = 0
    while (n < ids.length) {
      out.writeLong(ids(n))
      vecs(n).foreach(out.writeDouble)
      out.writeInt(adj(n).length)
      adj(n).foreach { layer =>
        out.writeInt(layer.length)
        layer.foreach(out.writeInt)
      }
      n += 1
    }
    out.close()
    bos.toByteArray
  }

  /** Just the (id, unit vector) rows of a serialized graph —
    * adjacency skipped, for the routed append's cell rebuilds. */
  private def deserializeRows(bytes: Array[Byte])
      : Array[(Long, Array[Double])] = {
    val in = new java.io.DataInputStream(new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes)))
    val n = in.readInt()
    val dim = in.readInt()
    in.readInt() // m
    in.readInt() // entry
    val out = new Array[(Long, Array[Double])](n)
    var i = 0
    while (i < n) {
      val id = in.readLong()
      val v = new Array[Double](dim)
      var d = 0
      while (d < dim) { v(d) = in.readDouble(); d += 1 }
      val layers = in.readInt()
      var l = 0
      while (l < layers) {
        val cnt = in.readInt()
        var c = 0
        while (c < cnt) { in.readInt(); c += 1 }
        l += 1
      }
      out(i) = (id, v)
      i += 1
    }
    in.close()
    out
  }

  private def deserializeGraph(bytes: Array[Byte]): Graph = {
    val in = new java.io.DataInputStream(new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes)))
    val n = in.readInt()
    val dim = in.readInt()
    val m = in.readInt()
    val entry = in.readInt()
    val ids = new Array[Long](n)
    val vecs = new Array[Array[Double]](n)
    val adj = new Array[Array[Array[Int]]](n)
    var i = 0
    while (i < n) {
      ids(i) = in.readLong()
      val v = new Array[Double](dim)
      var d = 0
      while (d < dim) { v(d) = in.readDouble(); d += 1 }
      vecs(i) = v
      val layers = in.readInt()
      adj(i) = Array.tabulate(layers) { _ =>
        val cnt = in.readInt()
        Array.fill(cnt)(in.readInt())
      }
      i += 1
    }
    in.close()
    val g = new Graph(vecs, ids, m, 0)
    g.importAdj(adj, entry)
    g
  }

  /** Build one graph over a partition's rows and answer every query
    * against it. Emits up to q·k (query_id, neighbor_id, sim) rows.
    */
  private def partitionSearch(
      rows: Iterator[(Long, Seq[Float])],
      queries: Array[(Long, Array[Double])],
      k: Int, m: Int, efConstruction: Int,
      efSearch: Int): Iterator[(Long, Long, Double)] = {
    val ids = mutable.ArrayBuffer[Long]()
    val vecs = mutable.ArrayBuffer[Array[Double]]()
    rows.foreach { case (id, v) =>
      ids += id
      vecs += normalize(v.toArray.map(_.toDouble))
    }
    if (ids.isEmpty) return Iterator.empty
    val g = new Graph(vecs.toArray, ids.toArray, m, efConstruction)
    var i = 0
    while (i < ids.length) { g.insert(i); i += 1 }
    candidates(g, queries.iterator, k, efSearch)
  }

  /** Up to k (query_id, neighbor_id, sim) candidates per query from
    * one graph, the query's own id excluded: over-fetch by one so
    * dropping self loses no slot. */
  private def candidates(g: Graph, qs: Iterator[(Long, Array[Double])],
      k: Int, ef: Int): Iterator[(Long, Long, Double)] =
    qs.flatMap { case (qid, qv) =>
      g.search(qv, k + 1, ef).iterator
        .filter(_._1 != qid).take(k)
        .map { case (nid, s) => (qid, nid, s) }
    }

  /** `ann_hnsw`: top-k by cosine for the D1 query set, via sharded
    * HNSW graphs. Approximate — spec-pinned against D1's exact ranks
    * (no SQL oracle, like D2/D4/D5).
    */
  def hnswTopk(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5, m: Int = 8, efConstruction: Int = 64,
      efSearch: Int = 48): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // query side: q rows, collected once and shipped in the closure
    val queries = e.filter(col("vec_id") < nQueries)
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, normalize(v.toArray.map(_.toDouble))) }
      .sortBy(_._1)
    // r16 OPT: the graph build is O(n·efC·M·d) per shard — heavy
    // per-row math, the spreadIfNarrow contract. On the single-
    // row-group local layout the whole build+search ran as ONE task
    // (job profile: 0.487 s on 1 of 32 cores); at real scale the
    // embeddings arrive in many files and this is a no-op. Sharding
    // is already the operator's semantics (per-partition graphs,
    // exact merge of per-shard top-k), and smaller shards only
    // tighten per-shard recall — the recall-floor check twin pins it.
    val cands = Tables.spreadIfNarrow(e).as[(Long, Seq[Float])]
      .mapPartitions(it =>
        partitionSearch(it, queries, k, m, efConstruction, efSearch))
      .toDF("query_id", "neighbor_id", "sim")
    mergeTopk(cands, k)
  }

  /** Persisted HNSW lifecycle (VERDICT r5 #6): build each
    * partition's graph ONCE and store it as a binary blob row in
    * `<name>_graphs`; serving deserializes the blobs and searches —
    * no O(n·ef·M) rebuild per query batch. Build stays shuffle-free
    * (each executor serializes the partition it already holds);
    * determinism (insertion order, hash levels, id tie-breaks) makes
    * rebuild idempotent — spec-pinned.
    */
  def buildHnswIndex(db: graft.catalog.GraftDatabase, e: DataFrame,
      name: String, m: Int = 8, efConstruction: Int = 64): Unit = {
    val spark = db.spark
    import spark.implicits._
    val mm = m
    val efc = efConstruction
    val blobs = e.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val ids = mutable.ArrayBuffer[Long]()
        val vecs = mutable.ArrayBuffer[Array[Double]]()
        it.foreach { case (id, v) =>
          ids += id
          vecs += normalize(v.toArray.map(_.toDouble))
        }
        if (ids.isEmpty) Iterator.empty
        else {
          val g = new Graph(vecs.toArray, ids.toArray, mm, efc)
          var i = 0
          while (i < ids.length) { g.insert(i); i += 1 }
          Iterator.single(serializeGraph(g, ids.toArray, vecs.toArray, mm))
        }
      }
      .toDF("graph")
    db.write(blobs, s"${name}_graphs", org.apache.spark.sql.SaveMode.Overwrite)
  }

  /** Serve top-k from stored graphs, rows (query_id, neighbor_id,
    * rank, sim). Each query searches every stored graph for k + 1
    * candidates (self dropped), and the candidates merge in
    * [[graft.functions.TopK]]'s (−sim, id) order. The queries are
    * collected first: a local query frame costs no job.
    *
    * Two tiers answer, bit-equal in rows and schema (spec-pinned):
    *
    * RESIDENT, while `<name>_graphs` holds at most
    * [[graft.catalog.ResidentArtifact.budget]] on-disk bytes (1/64 of
    * the driver heap cap; the gate sums the listing, no job). The
    * first request reads and deserializes the graph blobs on the
    * driver; every request then runs the same `Graph.search` and
    * merge in plain Scala and returns a local DataFrame, so neither
    * constructing nor collecting it launches a Spark job. Each
    * request re-lists the dir: unchanged files serve the copy, ADDED
    * files are deserialized and folded in alone, anything else (a
    * rebuild) reloads. A copy costs ~2.2× its on-disk bytes of heap
    * (1.2 MB for 2k 32-d vectors in 4 graphs): the unit vectors as
    * doubles plus boxed adjacency lists.
    *
    * SPARK, above the budget: one deserialization per blob in a
    * task, queries shipped in the closure, the candidate rows merged
    * by the TopK aggregate.
    */
  def hnswTopkFromIndex(db: graft.catalog.GraftDatabase, name: String,
      queries: DataFrame, k: Int = 10, efSearch: Int = 48): DataFrame =
    hnswTopkFromIndex(db, name, queries, k, efSearch,
      graft.catalog.ResidentArtifact.budget)

  /** [[hnswTopkFromIndex]] with the resident tier's admission budget
    * given — 0 forces the Spark tier. */
  private[graft] def hnswTopkFromIndex(db: graft.catalog.GraftDatabase,
      name: String, queries: DataFrame, k: Int, efSearch: Int,
      residentBudget: Long): DataFrame = {
    val spark = db.spark
    import spark.implicits._
    val qs = queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, normalize(v.toArray.map(_.toDouble))) }
      .sortBy(_._1)
    // k ≤ 0 is the aggregate's error to raise
    val resident = if (k <= 0) None else graft.catalog.ResidentArtifact.get(
      spark, "hnsw", Seq(db.tablePath(s"${name}_graphs")), residentBudget)(
      new GraphsLoader(spark))
    resident match {
      case Some(graphs) => residentTopk(spark, graphs, qs, k, efSearch)
      case None =>
        val cands = db.read(s"${name}_graphs").select(col("graph"))
          .as[Array[Byte]]
          .mapPartitions(_.flatMap(blob =>
            candidates(deserializeGraph(blob), qs.iterator, k, efSearch)))
          .toDF("query_id", "neighbor_id", "sim")
        mergeTopk(cands, k)
    }
  }

  /** The stored graphs, deserialized on the driver. */
  private final class GraphsLoader(spark: SparkSession)
      extends graft.catalog.ResidentArtifact.Loader[Vector[Graph]] {
    def load(files: Seq[Seq[org.apache.hadoop.fs.Path]]): Vector[Graph] =
      fold(Vector.empty, files)
    def fold(prior: Vector[Graph],
        added: Seq[Seq[org.apache.hadoop.fs.Path]]): Vector[Graph] = {
      val conf = spark.sessionState.newHadoopConf()
      val out = Vector.newBuilder[Graph] ++= prior
      added.flatten.foreach(f =>
        graft.sources.ParquetStats.readRows(conf, f, Seq("graph")) { g =>
          out += deserializeGraph(g.getBinary("graph", 0).getBytes)
        })
      out.result()
    }
  }

  /** [[mergeTopk]] over the same candidates, on the driver. */
  private def residentTopk(spark: SparkSession, graphs: Vector[Graph],
      qs: Array[(Long, Array[Double])], k: Int,
      efSearch: Int): DataFrame = {
    val byQuery = graphs.flatMap(candidates(_, qs.iterator, k, efSearch))
      .groupBy(_._1).toSeq.sortBy(_._1)
    val rows = byQuery.flatMap { case (qid, cs) =>
      cs.map { case (_, nid, s) => graft.functions.TopK.ScoredId(s, nid) }
        .sorted(graft.functions.TopK.bestFirst).take(k).zipWithIndex
        .map { case (c, i) => org.apache.spark.sql.Row(qid, c.id, i + 1, c.score) }
    }
    spark.createDataFrame(rows.asJava, topkSchema)
  }

  /** [[mergeTopk]]'s output schema. */
  private val topkSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("neighbor_id", LongType),
      StructField("rank", IntegerType, nullable = false),
      StructField("sim", DoubleType)))
  }

  /** The q·k candidate rows → ranked top-k merge (H3 aggregator)
    * shared by every HNSW serving shape. */
  private def mergeTopk(cands: DataFrame, k: Int): DataFrame =
    cands.groupBy(col("query_id"))
      .agg(graft.functions.TopK.topk(k)(col("sim"), col("neighbor_id"))
        .as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("idx", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"),
        (col("idx") + 1).as("rank"), col("s.score").as("sim"))

  // ---------------------------------------------------------------
  // D7b (r15): IVF-routed HNSW — coarse quantizer over the shards
  // ---------------------------------------------------------------

  /** The nProbe nearest cells of a RAW query vector under the
    * quantizer's own metric (squared L2 on unnormalized vectors —
    * routing must mirror assignment or a vector and its queries land
    * in different cells). Ties break on cell id: deterministic.
    */
  private[graft] def routeCells(cents: Array[Array[Double]],
      q: Array[Double], nProbe: Int): Array[Int] =
    cents.zipWithIndex.map { case (c, i) =>
      var s = 0.0
      var d = 0
      while (d < q.length) { val t = c(d) - q(d); s += t * t; d += 1 }
      (s, i)
    }.sortBy(identity).take(nProbe).map(_._2)

  /** Queries grouped by routed cell: cell → (query_id, normalized
    * query) list. Each query appears in exactly nProbe cells — the
    * spec pins shards-visited from this map.
    */
  private[graft] def routedQueries(cents: Array[Array[Double]],
      qs: Array[(Long, Array[Double], Array[Double])],
      nProbe: Int): Map[Int, Array[(Long, Array[Double])]] =
    qs.flatMap { case (qid, raw, unit) =>
      routeCells(cents, raw, nProbe).map(c => (c, (qid, unit)))
    }.groupBy(_._1).map { case (c, a) => (c, a.map(_._2).sortBy(_._1)) }

  /** `ann_hnsw` (routed form, r15 — VERDICT r14 #4): per-partition
    * graphs made every query visit ALL P shards — O(P·ef·M) per
    * query, linear in shard count at cluster scale. Here the D2
    * coarse quantizer routes instead: one graph per k-means CELL
    * (cells stay ~constant-sized as nCells grows with the corpus),
    * and each query searches only its nProbe nearest cells — serve
    * cost O(nProbe·ef·M), independent of both corpus size AND shard
    * count. The inline form goes further: only ROUTED cells build
    * graphs at all (the unrouted remainder of the corpus is filtered
    * out before the cell shuffle), so a small query batch indexes
    * only the fraction of the corpus it can reach. Routing recall:
    * a true neighbor hides only if it sits in a cell farther from
    * the query than all nProbe probed ones — the IVF trade (D2),
    * pinned by the `ann_hnsw_routed_check` oracle floor (80, with
    * margin under the measured .92–1.0 across SFs at the default
    * nProbe=8 of 16 cells — DriveRecallProbe r15).
    *
    * Build determinism: group rows sort by vec_id before insertion
    * (a groupByKey iterator has no guaranteed order, unlike the
    * partition iterator [[hnswTopk]]'s build relies on), so rebuilds
    * are bit-identical — spec-pinned alongside the unrouted form's.
    */
  def hnswTopkRouted(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5, m: Int = 8, efConstruction: Int = 64,
      efSearch: Int = 48, nCells: Int = 16, iters: Int = 3,
      nProbe: Int = 8): DataFrame = {
    import spark.implicits._
    val e = graft.CacheHygiene.persist(Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")))
    val cents = Ann.trainCentroids(e, nCells, iters)
    val qs = e.filter(col("vec_id") < nQueries)
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) =>
        val raw = v.toArray.map(_.toDouble)
        (id, raw, normalize(raw))
      }
      .sortBy(_._1)
    // hygiene AFTER the query collect: that collect is itself an
    // action over the cached frame, and an earlier registration
    // would release the cache before the corpus-scale search pass
    graft.CacheHygiene.unpersistAfterUse(e)
    val routed = routedQueries(cents, qs, nProbe)
    val cellSet = routed.keySet.toSeq
    val mm = m
    val efc = efConstruction
    val efs = efSearch
    val kk = k
    val cands = e
      .withColumn("cell", Ann.cellExpr(cents, col("embedding")))
      // unrouted cells never shuffle, never build a graph
      .filter(col("cell").isInCollection(cellSet))
      .select(col("cell"), col("vec_id"), col("embedding"))
      .as[(Int, Long, Seq[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (cell, it) =>
        val rows = it.map { case (_, id, v) => (id, v) }
          .toArray.sortBy(_._1)
        partitionSearch(rows.iterator, routed(cell), kk, mm, efc, efs)
      }
      .toDF("query_id", "neighbor_id", "sim")
    mergeTopk(cands, k)
  }

  /** D7b persisted lifecycle: the routed twin of [[buildHnswIndex]].
    * `{name}_centroids` is the D2 quantizer table (nCells rows — the
    * bounded piece a server loads to plan probes); `{name}_graphs`
    * holds ONE graph blob per CELL (vectors ride in the blob, as in
    * the unrouted index). Build cost is the unrouted build plus one
    * cell shuffle; rebuilds are bit-identical (sorted insertion
    * order + hash levels).
    */
  def buildHnswIndexRouted(db: graft.catalog.GraftDatabase, e: DataFrame,
      name: String, nCells: Int = 16, iters: Int = 3, m: Int = 8,
      efConstruction: Int = 64): Unit = {
    val spark = db.spark
    import spark.implicits._
    val ep =
      graft.CacheHygiene.persist(e.select(col("vec_id"), col("embedding")))
    val cents = Ann.trainCentroids(ep, nCells, iters)
    graft.CacheHygiene.unpersistAfterUse(ep)
    db.write(cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid"),
      s"${name}_centroids", org.apache.spark.sql.SaveMode.Overwrite)
    val mm = m
    val efc = efConstruction
    val blobs = ep
      .withColumn("cell", Ann.cellExpr(cents, col("embedding")))
      .select(col("cell"), col("vec_id"), col("embedding"))
      .as[(Int, Long, Seq[Float])]
      .groupByKey(_._1)
      .mapGroups { (cell, it) =>
        (cell, buildCellBlob(it.map { case (_, id, v) =>
          (id, normalize(v.toArray.map(_.toDouble)))
        }.toArray, mm, efc))
      }
      .toDF("cell", "graph")
    db.write(blobs, s"${name}_graphs",
      org.apache.spark.sql.SaveMode.Overwrite)
    // id registry: the membership sidecar the append's immutability
    // screen anti-joins against (ids live inside gzip blobs — without
    // the registry an append would deserialize the whole index to
    // learn what it already holds)
    db.write(ep.select(col("vec_id")), s"${name}_ids",
      org.apache.spark.sql.SaveMode.Overwrite)
  }

  /** One cell's graph blob from (id, unit vector) rows — sorted-id
    * insertion order, so ANY row arrival order (fresh build, append
    * rebuild, replay) serializes to the same bytes. */
  private def buildCellBlob(rows: Array[(Long, Array[Double])],
      m: Int, efc: Int): Array[Byte] = {
    val sorted = rows.sortBy(_._1)
    val ids = sorted.map(_._1)
    val vecs = sorted.map(_._2)
    val g = new Graph(vecs, ids, m, efc)
    var i = 0
    while (i < ids.length) { g.insert(i); i += 1 }
    serializeGraph(g, ids, vecs, m)
  }

  /** D10-parity append for the routed index: assign the new batch
    * with the STORED centroids (frozen quantizer — the D10 contract:
    * an append-maintained index is bit-identical to a one-pass
    * assignment of the union corpus under the SAME quantizer,
    * because cell membership depends only on the quantizer and
    * [[buildCellBlob]]'s sorted insertion makes a rebuilt cell
    * independent of arrival order and append batching),
    * then rebuild ONLY the affected cells' graphs — untouched blobs
    * pass through by reference, never deserialized. Rebuild rows
    * dedupe by vec_id, so a replayed append (write-succeeded-
    * commit-lost) converges instead of double-inserting; the new
    * table publishes through the replaceTable rename-swap (a
    * concurrent reader never observes a half-rebuilt index).
    */
  def appendHnswIndexRouted(db: graft.catalog.GraftDatabase,
      name: String, newVecs: DataFrame, m: Int = 8,
      efConstruction: Int = 64): Unit = {
    val spark = db.spark
    import spark.implicits._
    val cents = Ann.loadCentroids(db, name)
    // IMMUTABILITY SCREEN (r15 review): ids already in the index are
    // dropped BEFORE assignment — a re-sent id with a CHANGED vector
    // would otherwise land in a different cell and shadow-place the
    // entry (per-cell dedupe cannot see across cells). The `_ids`
    // registry makes the screen one anti-join; changing a vector is
    // delete + rebuild, never re-append.
    //
    // persisted: the affected-cells probe and the rebuild write are
    // two actions over the same screen + assignment pass
    val assigned = newVecs.select(col("vec_id"), col("embedding"))
      .join(db.read(s"${name}_ids"), Seq("vec_id"), "left_anti")
      .withColumn("cell", Ann.cellExpr(cents, col("embedding")))
      .select(col("cell"), col("vec_id"), col("embedding"))
      .as[(Int, Long, Seq[Float])]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val affected = assigned.map(_._1).distinct().collect().toSet
      val existing = db.read(s"${name}_graphs")
        .select(col("cell"), col("graph")).as[(Int, Array[Byte])]
      val mm = m
      val efc = efConstruction
      val untouched = existing.filter(r => !affected(r._1))
      // stored rows flagged 0, batch rows 1: if a replay races the
      // registry update (crash between the graphs swap and the ids
      // swap below), the STORED vector wins — deterministically,
      // whatever order the shuffle iterator interleaves the union
      // (r15 review: first-wins over iterator order published
      // bit-different graphs across runs).
      val oldRows = existing.filter(r => affected(r._1))
        .flatMap { case (cell, blob) =>
          deserializeRows(blob).iterator
            .map { case (id, v) => (cell, id, v, 0) }
        }
      // every cell in `assigned` is affected by construction
      val newRows = assigned.map { case (cell, id, v) =>
        (cell, id, normalize(v.toArray.map(_.toDouble)), 1)
      }
      val rebuilt = oldRows.union(newRows)
        .groupByKey(_._1)
        .mapGroups { (cell, it) =>
          val byId =
            scala.collection.mutable.HashMap[Long, (Array[Double], Int)]()
          it.foreach { case (_, id, v, flag) =>
            val cur = byId.get(id)
            if (cur.isEmpty || flag < cur.get._2) byId(id) = (v, flag)
          }
          (cell, buildCellBlob(
            byId.iterator.map { case (id, (v, _)) => (id, v) }.toArray,
            mm, efc))
        }
      db.replaceTable(untouched.union(rebuilt).toDF("cell", "graph"),
        s"${name}_graphs")
      // registry second: a crash between the swaps leaves ids
      // missing, and the replay converges through the anti-join
      // (unscreened identical rows) + the stored-wins dedupe above
      db.replaceTable(
        db.read(s"${name}_ids")
          .unionByName(assigned.select(col("vec_id")).toDF("vec_id"))
          .distinct(),
        s"${name}_ids")
    } finally assigned.unpersist(blocking = false)
  }

  /** Serve top-k from a routed index: the centroid table routes each
    * query to its nProbe nearest cells DRIVER-side (nCells rows —
    * bounded); only routed blobs deserialize (an unrouted blob is
    * skipped before the gunzip, not after), and each graph searches
    * only the queries routed to it. Per-query cost O(nProbe·ef·M) —
    * shard-count-independent, the scale fix for [[hnswTopkFromIndex]]
    * whose every query visited all P partition graphs.
    */
  def hnswTopkFromIndexRouted(db: graft.catalog.GraftDatabase,
      name: String, queries: DataFrame, k: Int = 10,
      efSearch: Int = 48, nProbe: Int = 8): DataFrame = {
    val spark = db.spark
    import spark.implicits._
    val cents = Ann.loadCentroids(db, name)
    val qs = queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) =>
        val raw = v.toArray.map(_.toDouble)
        (id, raw, normalize(raw))
      }
      .sortBy(_._1)
    val routed = routedQueries(cents, qs, nProbe)
    val kk = k
    val efs = efSearch
    val cands = db.read(s"${name}_graphs").select(col("cell"), col("graph"))
      .as[(Int, Array[Byte])]
      .mapPartitions(_.flatMap { case (cell, blob) =>
        routed.get(cell) match {
          case None => Iterator.empty
          case Some(qarr) =>
            candidates(deserializeGraph(blob), qarr.iterator, kk, efs)
        }
      })
      .toDF("query_id", "neighbor_id", "sim")
    mergeTopk(cands, k)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_hnsw" -> ((s, d) => hnswTopk(s, d)),
    "ann_hnsw_routed" -> ((s, d) => hnswTopkRouted(s, d))
  )
}
