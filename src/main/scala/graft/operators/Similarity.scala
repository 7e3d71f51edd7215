package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Three strategies, one scoring routine ([[score]]: left-to-right double
  * dot / (qn·nn), top-k by cosine desc, NaN last, ties to the smaller
  * neighbor):
  *  - bruteForceTopK: exact, the whole table broadcast from the driver and
  *    scanned per query — the correctness baseline, O(n²·d).
  *  - lshTopK / ivfTopK: candidates only form inside a block (an LSH band
  *    bucket, an IVF cell). Both feed the block-scoring core
  *    ([[blockTopK]]): one shuffle groups rows by (block, salt), each group
  *    buffers its data side (at most [[blockRows]] rows when the hash
  *    spreads evenly) and streams its queries past it, and only each
  *    query's local top-k leaves the group. No candidate pair is ever a
  *    row. A block whose data side exceeds the bound is split
  *    deterministically into salts (the skew split of Hyper Dimension
  *    Shuffle): its data rows go to salt hash(id) mod s, its query rows to
  *    every salt. Salting never changes the output.
  */
object Similarity {

  /** cos(a,b) as a native column expression (arrays cast to double;
    * left-to-right accumulation — bit-compatible with the DuckDB oracle). */
  def cosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val dot = aggregate(zip_with(a.cast("array<double>"), b.cast("array<double>"), _ * _),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(transform(a.cast("array<double>"), x => x * x), lit(0.0), (acc, x) => acc + x))
    val nb = sqrt(aggregate(transform(b.cast("array<double>"), x => x * x), lit(0.0), (acc, x) => acc + x))
    dot / (na * nb)
  }

  private def normCol(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sqrt(aggregate(transform(v.cast("array<double>"), x => x * x), lit(0.0), (acc, x) => acc + x))

  /** The k best (cosine, neighbor) pairs offered so far, best first. */
  private final class TopK(k: Int) {
    val cos = new Array[Double](k)
    val ids = new Array[Long](k)
    var size = 0

    def offer(c: Double, id: Long): Unit =
      if (size < k || before(c, id, cos(k - 1), ids(k - 1))) {
        var i = math.min(size, k - 1)
        while (i > 0 && before(c, id, cos(i - 1), ids(i - 1))) {
          cos(i) = cos(i - 1); ids(i) = ids(i - 1); i -= 1
        }
        cos(i) = c; ids(i) = id
        if (size < k) size += 1
      }
  }

  /** The ranking order: cosine desc with NaN last and -0.0 == 0.0, ties to
    * the smaller neighbor — the order topKPerQuery's merge uses. */
  private[graft] def before(c1: Double, id1: Long, c2: Double, id2: Long): Boolean =
    if (c1 == c2 || (c1.isNaN && c2.isNaN)) id1 < id2
    else c2.isNaN || c1 > c2

  /** Scores query (qid, qv, qn) against data rows [0, n), skipping its own
    * id, into a cleared `top`. The cosine is the per-pair formula the
    * oracle pins: a left-to-right double dot divided by (qn·nn). */
  private def score(qid: Long, qv: Array[Float], qn: Double, ids: Array[Long],
                    vecs: Array[Array[Float]], norms: Array[Double], n: Int,
                    top: TopK): Unit = {
    top.size = 0
    var j = 0
    while (j < n) {
      val nid = ids(j)
      if (nid != qid) {
        val nv = vecs(j)
        var dot = 0.0
        var d = 0
        val len = math.min(qv.length, nv.length)
        while (d < len) { dot += qv(d).toDouble * nv(d).toDouble; d += 1 }
        top.offer(dot / (qn * norms(j)), nid)
      }
      j += 1
    }
  }

  /** One row of a scoring group. `role` says which side the row is on:
    * Both (data and query), Data or Query; sorted in that order, so a
    * group's data side arrives before its query-only rows. */
  private[graft] final case class BlockRow(block: Long, salt: Int, role: Byte, id: Long,
                                           vec: Array[Float], norm: Double)
  private[graft] val Both: Byte = 0
  private[graft] val Data: Byte = 1
  private[graft] val Query: Byte = 2

  /** Bytes of data side one scoring group buffers: the memory bound of the
    * block core's build side. */
  private val BlockBytes = 32L << 20

  /** Most shared block keys the driver collects for the singleton drop
    * (a sorted Long array of 8 MB). */
  private val MaxSharedBlocks = 1 << 20

  /** Test seam: a positive value replaces the budget-derived bound. */
  @volatile private[graft] var blockRowsOverride = 0

  /** The block bound B for `dim`-dimensional rows: the byte budget over the
    * buffered row width (float array + header, id, norm, reference). */
  private def blockRows(dim: Int): Int =
    if (blockRowsOverride > 0) blockRowsOverride
    else math.max(2L, BlockBytes / (4L * dim + 48)).toInt

  /** What the driver knows of the blocks of `base` (`blockKey` gives one
    * value per data row): `salts` maps each block holding more than the
    * bound to its salt count, enough that a sub-block expects at most half
    * the bound (the other half is left for the hash's spread); `shared`,
    * when known, is the sorted set of blocks holding at least two rows. */
  private final case class BlockStats(salts: Map[Long, Int], shared: Option[Array[Long]])

  /** The first action counts `base` (filling its cache): no block outgrows
    * the whole input, so an input of at most `bound` rows skips the
    * per-block aggregate and leaves `shared` unknown. Otherwise one
    * aggregate collects the shared blocks with their counts; when more than
    * [[MaxSharedBlocks]] blocks are shared it collects only the hot ones
    * and `shared` stays unknown. */
  private def blockStats(base: DataFrame, blockKey: Column, bound: Int): BlockStats =
    if (base.count() <= bound) BlockStats(Map.empty, None)
    else {
      import base.sparkSession.implicits._
      val counts = base.select(blockKey.as("__block")).groupBy("__block").count()
      def saltsOf(cs: Array[(Long, Long)]): Map[Long, Int] = cs.collect {
        case (b, n) if n > bound => b -> Math.toIntExact((2 * n + bound - 1) / bound)
      }.toMap
      val shared = counts.where(col("count") > 1).limit(MaxSharedBlocks + 1)
        .as[(Long, Long)].collect()
      if (shared.length <= MaxSharedBlocks)
        BlockStats(saltsOf(shared), Some(shared.map(_._1).sorted))
      else BlockStats(saltsOf(counts.where(col("count") > bound).as[(Long, Long)].collect()), None)
    }

  /** Candidate row `id` of `block` with `role`, spread over the block's
    * salts when it is hot: its data side goes to salt hash(id) mod s, its
    * query side to every salt. */
  private def salted(block: Long, role: Byte, id: Long, v: Array[Float], n: Double,
                     salts: Map[Long, Int]): Iterator[BlockRow] = {
    val s = salts.getOrElse(block, 1)
    if (s == 1) Iterator.single(BlockRow(block, 0, role, id, v, n))
    else {
      var z = id
      z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
      z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
      val own = Math.floorMod(z ^ (z >>> 33), s.toLong).toInt
      if (role == Data) Iterator.single(BlockRow(block, own, Data, id, v, n))
      else Iterator.tabulate(s)(i => BlockRow(block, i, if (i == own) role else Query, id, v, n))
    }
  }

  /** Scores one (block, salt) group: buffers its data side, then scores
    * every query (the Both rows, then the streamed Query rows) against it
    * and emits each query's local top-k as (qid, neighbor, cosine). */
  private def scoreGroup(rows: Iterator[BlockRow], k: Int): Iterator[(Long, Long, Double)] = {
    val it = rows.buffered
    val data = scala.collection.mutable.ArrayBuffer.empty[BlockRow]
    while (it.hasNext && it.head.role != Query) data += it.next()
    val ids = data.iterator.map(_.id).toArray
    val vecs = data.iterator.map(_.vec).toArray
    val norms = data.iterator.map(_.norm).toArray
    val top = new TopK(k)
    def local(q: BlockRow): Array[(Long, Long, Double)] = {
      score(q.id, q.vec, q.norm, ids, vecs, norms, ids.length, top)
      Array.tabulate(top.size)(i => (q.id, top.ids(i), top.cos(i)))
    }
    data.iterator.filter(_.role == Both).flatMap(local) ++ it.flatMap(local)
  }

  /** The id column's type, which must be integral: the block core skips
    * self-pairs and breaks ties on Long ids, and casts them back. */
  private def integralId(df: DataFrame, idCol: String): DataType = {
    val t = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
      s"$idCol must be an integral id column (got $t)")
    t
  }

  /** The block core shared by lshTopK and ivfTopK: one shuffle groups the
    * candidate rows by (block, salt), [[scoreGroup]] keeps each query's
    * local top-k, and topKPerQuery merges those across groups. `dedupe`
    * drops the repeats of a neighbor that shares several blocks with its
    * query. Output ids are cast back to `idType`. */
  private def blockTopK(rows: Dataset[BlockRow], k: Int, dedupe: Boolean,
                        idCol: String, idType: DataType): DataFrame = {
    import rows.sparkSession.implicits._
    val scored = rows.groupBy("block", "salt").as[(Long, Int), BlockRow]
      .flatMapSortedGroups(col("role"))((_, it) => scoreGroup(it, k))
      .toDF("__qid", "neighbor", "cosine")
    topKPerQuery(scored, k, dedupe).select(col("__qid").cast(idType).as(idCol),
      col("neighbor").cast(idType).as("neighbor"), col("cosine"), col("rank"))
  }

  /** Exact top-k neighbors per row: the whole table is collected and
    * broadcast as primitive float arrays, and each query scans it with
    * [[score]] inside mapPartitions (memory O(n·d), no n² rows).
    * Returns (idCol, neighbor, cosine, rank). */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
                     maxRows: Long = 1000000L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // this path collects every vector to the driver — exact, but NOT the
    // 100 TB path; refuse loudly instead of OOMing the driver
    // (limit() takes an Int — fall back to a full count for huge maxRows so
    // a raised cap can't overflow the guard into a false pass)
    val cnt =
      if (maxRows >= Int.MaxValue - 1) df.count()
      else df.limit((maxRows + 1).toInt).count()
    require(cnt <= maxRows,
      s"bruteForceTopK broadcasts the full table from the driver; >$maxRows rows " +
      s"found — use lshTopK (LSH-bucketed) for large inputs, or raise maxRows explicitly")
    val items: Array[(Long, Array[Float])] = df
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, v.toArray) }
      .sortBy(_._1)
    val bc = spark.sparkContext.broadcast(items)
    val kk = k

    val queries = df.select(col(idCol).cast("long").as("__qid"), col(vecCol).cast("array<float>").as("__qv"))
      .as[(Long, Array[Float])]
    queries.mapPartitions { it =>
      val ids = bc.value.map(_._1)
      val vecs = bc.value.map(_._2)
      val norms = vecs.map { v =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
        math.sqrt(s)
      }
      val top = new TopK(kk)
      it.flatMap { case (qid, qv) =>
        var qn = 0.0
        var i = 0
        while (i < qv.length) { qn += qv(i).toDouble * qv(i).toDouble; i += 1 }
        score(qid, qv, math.sqrt(qn), ids, vecs, norms, ids.length, top)
        Array.tabulate(top.size)(r => (qid, top.ids(r), top.cos(r), r + 1))
      }
    }.toDF(idCol, "neighbor", "cosine", "rank")
  }

  /** Deterministic pseudo-random unit-free hyperplanes from a seed. */
  private[graft] def hyperplanes(dim: Int, bits: Int, seed: Long): Array[Array[Double]] = {
    var s = seed
    def next(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    // Box-Muller-free: sum of 4 uniforms ≈ gaussian enough for LSH planes
    Array.fill(bits, dim) {
      ((next() >>> 11) * 1.1102230246251565e-16) +
      ((next() >>> 11) * 1.1102230246251565e-16) +
      ((next() >>> 11) * 1.1102230246251565e-16) +
      ((next() >>> 11) * 1.1102230246251565e-16) - 2.0
    }
  }

  /** Approximate top-k via random-hyperplane LSH with `bands` bucket
    * families of `bitsPerBand` bits each; recall rises with bands. Every
    * row lands in one bucket per band and is both a query and a data row
    * there, so the block core scores each bucket's members against each
    * other and merges a query's winners across bands, dropping a neighbor
    * met in several bands. A bucket with one member scores nothing; on an
    * input above the block bound the buckets are counted ([[blockStats]])
    * and such a row never reaches the shuffle, and buckets above the bound
    * are salted. `idCol` must be integral (byte, short, int or long): the
    * core keys rows on Long ids, and any other type is refused before a
    * job runs. Returns (idCol, neighbor, cosine, rank). */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
              bands: Int = 8, bitsPerBand: Int = 8, seed: Long = 42L)
             (implicit spark: SparkSession): DataFrame = {
    val idType = integralId(df, idCol)
    blockTopK(lshRows(df, idCol, vecCol, bands, bitsPerBand, seed), k, dedupe = true, idCol, idType)
  }

  /** lshTopK's block rows: a Both row per (row, band bucket), spread over
    * the bucket's salts, and none for a bucket known to hold one row. */
  private[graft] def lshRows(df: DataFrame, idCol: String, vecCol: String, bands: Int,
                             bitsPerBand: Int, seed: Long)
                            (implicit spark: SparkSession): Dataset[BlockRow] = {
    import spark.implicits._
    val dim = df.select(size(col(vecCol))).first().getInt(0)
    val planes = spark.sparkContext.broadcast(hyperplanes(dim, bands * bitsPerBand, seed))
    val nb = bands
    val bpb = bitsPerBand

    val bucketUdf = udf { vec: Array[Float] =>
      val p = planes.value
      val bits = new Array[Boolean](p.length)
      var i = 0
      while (i < p.length) {
        var dot = 0.0
        val plane = p(i)
        var j = 0
        while (j < plane.length && j < vec.length) { dot += plane(j) * vec(j); j += 1 }
        bits(i) = dot >= 0
        i += 1
      }
      (0 until nb).map { b =>
        var key = 0L
        var j = 0
        while (j < bpb) { key = (key << 1) | (if (bits(b * bpb + j)) 1L else 0L); j += 1 }
        (b.toLong << 32) | key
      }.toArray
    }

    // base is read twice (bucket stats, block rows): persist the
    // (id, vec, norm, buckets) projection so the input lineage, the norm
    // fold and the hashing run once. Rotating key — a caller may build a
    // second lshTopK (e.g. cosineNearDupes after ann_lsh_topk) before this
    // one's consumers have executed.
    val base = CacheRegistry.swapRotating("similarity.lshBase", df
      .select(col(idCol).cast("long").as("__id"), col(vecCol).cast("array<float>").as("__v"),
        normCol(col(vecCol)).as("__n"), bucketUdf(col(vecCol).cast("array<float>")).as("__b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val stats = blockStats(base, explode(col("__b")), blockRows(dim))
    val hot = stats.salts
    val shared = stats.shared.map(spark.sparkContext.broadcast(_))
    base.as[(Long, Array[Float], Double, Array[Long])].flatMap { case (id, v, n, buckets) =>
      buckets.iterator
        .filter(b => shared.forall(s => java.util.Arrays.binarySearch(s.value, b) >= 0))
        .flatMap(b => salted(b, Both, id, v, n, hot))
    }
  }

  /** Per-query top-k by (cosine desc, NaN last, neighbor asc) over slim
    * (__qid, neighbor, cosine) rows — the local winners of the block
    * groups. k == 1 (the common ANN-query case) takes a groupBy
    * min-struct: a hash aggregate with map-side partial aggregation and NO
    * per-group sort, so a hot query id combines before the exchange; a
    * repeated neighbor is harmless there. k > 1 drops repeats when
    * `dedupe` and ranks with a row_number window over -cosine, which puts
    * NaN last exactly as min(-cosine) does. */
  private def topKPerQuery(scored: DataFrame, k: Int, dedupe: Boolean): DataFrame = {
    if (k == 1) {
      scored
        .groupBy("__qid")
        .agg(min(struct(negate(col("cosine")).as("__nc"), col("neighbor"),
          col("cosine"))).as("__best"))
        .select(col("__qid"), col("__best.neighbor").as("neighbor"),
          col("__best.cosine").as("cosine"), lit(1).as("rank"))
    } else {
      val w = Window.partitionBy("__qid").orderBy(negate(col("cosine")), col("neighbor"))
      (if (dedupe) scored.dropDuplicates("__qid", "neighbor") else scored)
        .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
        .select(col("__qid"), col("neighbor"), col("cosine"), col("rank"))
    }
  }

  /** Deterministic driver-side Lloyd k-means over a bounded sample — the
    * coarse quantizer for ivfTopK. Seeding: evenly spaced sample points
    * (deterministic, no RNG state dependence); empty cells keep their
    * previous centroid. Sample bias only affects cell BALANCE, never
    * correctness (every vector is searched within its assigned cells). */
  private[graft] def trainCentroids(sample: Array[Array[Float]], nLists: Int,
                                        iters: Int): Array[Array[Float]] = {
    val n = sample.length
    val kk = math.min(nLists, math.max(1, n))
    val dim = if (n == 0) 1 else sample(0).length
    val cents = Array.tabulate(kk)(i => sample((i.toLong * n / kk).toInt).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Long](kk)
      var i = 0
      while (i < n) {
        val c = nearestCentroid(sample(i), cents)
        var d = 0
        while (d < dim) { sums(c)(d) += sample(i)(d); d += 1 }
        counts(c) += 1
        i += 1
      }
      var c = 0
      while (c < kk) {
        if (counts(c) > 0) {
          var d = 0
          while (d < dim) { cents(c)(d) = (sums(c)(d) / counts(c)).toFloat; d += 1 }
        }
        c += 1
      }
      it += 1
    }
    cents
  }

  private[graft] def nearestCentroid(v: Array[Float], cents: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d2 = 0.0
      var d = 0
      val cc = cents(c)
      val len = math.min(v.length, cc.length)
      while (d < len) { val x = v(d) - cc(d); d2 += x * x; d += 1 }
      if (d2 < bestD) { bestD = d2; best = c }
      c += 1
    }
    best
  }

  private[graft] def nearestCells(v: Array[Float], cents: Array[Array[Float]],
                                      nProbe: Int): Array[Int] = {
    val ds = cents.indices.map { c =>
      var d2 = 0.0
      var d = 0
      val cc = cents(c)
      val len = math.min(v.length, cc.length)
      while (d < len) { val x = v(d) - cc(d); d2 += x * x; d += 1 }
      (d2, c)
    }
    ds.sortBy(p => (p._1, p._2)).take(nProbe).map(_._2).toArray
  }

  /** IVF-flat approximate top-k: a coarse k-means quantizer partitions the
    * vectors into `nLists` cells; each query probes its `nProbe` nearest
    * cells and computes exact cosine only there. The scale path when LSH's
    * hyperplane bucketing fits poorly (clustered embeddings). Centroids
    * train driver-side on a bounded deterministic sample and broadcast.
    * In the block core a cell is a block: every vector is a data row of
    * its nearest cell and a query row of each probed cell (one Both row
    * where the two coincide). Cells above the block bound are salted
    * ([[blockStats]]: a count of the persisted base and, only when the
    * input exceeds the bound, one aggregate over the cells). `idCol` must
    * be integral (byte, short, int or long): the core keys rows on Long
    * ids, and any other type is refused before a job runs. Returns
    * (idCol, neighbor, cosine, rank). */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
              nLists: Int = 64, nProbe: Int = 8, kmeansIters: Int = 5,
              sampleSize: Int = 8192)
             (implicit spark: SparkSession): DataFrame = {
    val idType = integralId(df, idCol)
    ivfRows(df, idCol, vecCol, nLists, nProbe, kmeansIters, sampleSize) match {
      case Some(rows) => blockTopK(rows, k, dedupe = false, idCol, idType)
      // Empty shards are a legitimate pipeline state: an empty result
      case None => df.select(col(idCol), col(idCol).as("neighbor"),
        lit(0.0).as("cosine"), lit(0).as("rank")).limit(0)
    }
  }

  /** ivfTopK's block rows, or None when the k-means sample is empty:
    * each vector's probe rows and its own cell's data row, salted. */
  private[graft] def ivfRows(df: DataFrame, idCol: String, vecCol: String, nLists: Int,
                             nProbe: Int, kmeansIters: Int, sampleSize: Int)
                            (implicit spark: SparkSession): Option[Dataset[BlockRow]] = {
    import spark.implicits._
    // base is read three times (sample, cell count, block rows), each
    // re-running the input lineage and the norm fold: persist it (r8)
    val base = CacheRegistry.swapRotating("similarity.ivfBase", df
      .select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<float>").as("__v"), normCol(col(vecCol)).as("__n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // the k-means sample reads the persisted base (same projection, same
    // scan order ⇒ identical sample rows) instead of re-running the input
    // lineage in a separate job — the input is scanned once, not twice,
    // and the sample's partitions pre-fill the cache (r8 session 2)
    val sample: Array[Array[Float]] = base
      .select(col("__v")).limit(sampleSize)
      .as[Array[Float]].collect()
    // trainCentroids would index into an empty sample
    if (sample.isEmpty) return None
    val cents = spark.sparkContext.broadcast(trainCentroids(sample, nLists, kmeansIters))
    val np = nProbe

    val cellUdf = udf { v: Array[Float] => nearestCentroid(v, cents.value).toLong }
    val hot = blockStats(base, cellUdf(col("__v")), blockRows(sample(0).length)).salts
    Some(base.as[(Long, Array[Float], Double)].flatMap { case (id, v, n) =>
      val own = nearestCentroid(v, cents.value)
      val probes = nearestCells(v, cents.value, np)
      val sides = probes.iterator.map(c => (c, if (c == own) Both else Query)) ++
        (if (probes.contains(own)) Iterator.empty else Iterator.single((own, Data)))
      sides.flatMap { case (c, role) => salted(c.toLong, role, id, v, n, hot) }
    })
  }

  /** Embedding near-duplicate detection: pairs with cosine ≥ threshold
    * (via LSH candidates), connected-components, min-id survivor.
    * k bounds neighbors per vector — clustering only needs CONNECTIVITY
    * (components close the transitive hull), so a mass-duplicated embedding
    * cluster doesn't need its full clique materialized; k=16 links even a
    * huge duplicate group into one component with high probability while
    * capping the window/edge volume. */
  def cosineNearDupes(df: DataFrame, idCol: String, vecCol: String,
                      threshold: Double = 0.95, bands: Int = 16, bitsPerBand: Int = 8,
                      k: Int = 16)
                     (implicit spark: SparkSession): DataFrame = {
    // Collapse byte-identical vectors FIRST: they are near-dups by
    // definition (cosine 1 ≥ any threshold), and a mass-duplicated
    // embedding would otherwise regenerate its full clique in every LSH
    // band — the dominant degenerate case at web scale. LSH then runs over
    // DISTINCT vectors only.
    // r8 shape: vector identity is a 128-bit pair of independent xxhash64
    // folds, so the collapse groupBy and the rep join-back move 16-byte
    // keys instead of the fat embedding arrays (the r7 shape grouped and
    // null-safe-joined on the full array<float>). False identity needs
    // both 64-bit hashes to collide on different vectors: ~2^-128 per
    // pair, ≪ 1 expected even at 10^12 rows — the same analysis as the
    // minhash band folds and ExactSubstrDedup.spanHashes. The fat table
    // is touched by one broadcastable semi-join (rep ids) only.
    val v = col(vecCol).cast("array<float>")
    val slim = df.select(col(idCol), xxhash64(v).as("__vh1"),
      xxhash64(v, lit(0x9E3779B97F4A7C15L)).as("__vh2"))
    val reps = slim.groupBy("__vh1", "__vh2").agg(min(col(idCol)).as("__rep"))
    val withRep = slim.join(reps, Seq("__vh1", "__vh2"))
    val exactEdges = withRep.where(col(idCol) =!= col("__rep"))
      .select(col(idCol).as("doc"), col("__rep").as("rep"))
    val uniques = df.join(
      withRep.where(col(idCol) === col("__rep")).select(col(idCol)),
      Seq(idCol), "left_semi")
      .select(col(idCol), col(vecCol))
    val top = lshTopK(uniques, idCol, vecCol, k = k, bands = bands, bitsPerBand = bitsPerBand)
    // a zero vector's cosine is NaN, which Spark orders above every number
    val lshEdges = top.where(!isnan(col("cosine")) && col("cosine") >= threshold)
      .select(col(idCol).as("doc"), col("neighbor").as("rep"))
      .where(col("doc") =!= col("rep"))
    val comps = MinhashDedup.components(exactEdges.union(lshEdges))
    df.join(comps.withColumnRenamed("doc", idCol), Seq(idCol), "left")
      .withColumn("cosine_cluster", coalesce(col("cluster"), col(idCol)))
      .drop("cluster")
      .withColumn("cosine_keep", col("cosine_cluster") === col(idCol))
  }
}
