package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, GraftSqlBridge, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Score-driven sampling ops (fork's cdf_gc/eta_dacp, SURVEY.md §2.11):
  * global sort by a quality score + running token-mass prefix sum.
  *
  * Scale note: a naive `Window.orderBy(...)` with no partitionBy moves the
  * WHOLE dataset to one partition (WindowExec's single-reducer sort) — a
  * one-executor bottleneck at 10^12 docs. Instead this uses the classic
  * distributed running-sum shape:
  *   1. range-partition + sort within partitions on (score desc, token asc)
  *      — Spark samples split points, so partitions stay balanced;
  *   2. one cheap pass collects per-partition token totals (one row per
  *      partition) to the driver;
  *   3. exclusive prefix offsets are broadcast and each partition adds its
  *      offset to a local running sum — no global shuffle beyond the range
  *      partitioning, no single-partition sort.
  * Results are identical to the window formulation (token sums are exact
  * Long arithmetic; ties in (score, token) get an arbitrary but
  * partition-stable order, same as the window version).
  */
object Sampling {

  /** Append an exact Long running sum of `tokenCol` in (scoreCol desc,
    * tokenCol asc) order as `__running` (the row's own tokens included),
    * keeping a `__tok` long-cast copy of the token column. Returns the
    * annotated frame plus the grand total. Two passes over a cached
    * range-partitioned dataset (the cache pins the partition assignment
    * so both passes agree). The cache is a local checkpoint owned by the
    * returned frame: a second sampler built before this one's deferred
    * pass-2 action runs cannot evict it, and Spark's ContextCleaner drops
    * it once the frame is unreachable. */
  private def withRunningSum(df0: DataFrame, scoreCol: String,
                             tokenCol: String): (DataFrame, Long, Long) = {
    val spark = df0.sparkSession
    val df = df0.withColumn("__tok", col(tokenCol).cast("long"))
    val n = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    val parted = GraftSqlBridge.localCheckpoint(df
      .repartitionByRange(n, desc(scoreCol), asc(tokenCol))
      .sortWithinPartitions(desc(scoreCol), asc(tokenCol)))
    val tokIdx = parted.schema.fieldIndex("__tok")

    // pass 1: per-partition (rows, token total) — one tiny row per partition
    val partSums: Array[(Int, Long, Long)] = parted
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        var s = 0L
        var rows = 0L
        it.foreach { r => s += r.getLong(tokIdx); rows += 1 }
        Iterator.single((pid, rows, s))
      }(Encoders.product[(Int, Long, Long)])
      .collect()

    val sumByPid = partSums.map(p => p._1 -> p._3).toMap
    var acc = 0L
    val offsets = Array.tabulate(n) { pid =>
      val o = acc; acc += sumByPid.getOrElse(pid, 0L); o
    }
    val total = acc
    val totalRows = partSums.map(_._2).sum
    val expectedSums = Array.tabulate(n)(pid => sumByPid.getOrElse(pid, 0L))
    val bc = spark.sparkContext.broadcast((offsets, expectedSums))

    // pass 2: local running sum + broadcast offset (narrow, no shuffle).
    // Validation at iterator end: if the persisted partitioning was lost and
    // a recompute under a nondeterministically-ordered lineage re-sampled
    // different range boundaries, the partition's token sum no longer
    // matches pass 1 — fail LOUDLY instead of emitting silently wrong
    // running sums (the same precondition Spark's own task retry puts on
    // any two-pass computation over a nondeterministic source).
    val outSchema = StructType(
      parted.schema.fields :+ StructField("__running", LongType, nullable = false))
    val enc = RowEncoder.encoderFor(outSchema)
    val result = parted.mapPartitions { it =>
      val (offs, expected) = bc.value
      val pid = TaskContext.getPartitionId()
      var run = offs(pid)
      val out = it.map { r =>
        run += r.getLong(tokIdx)
        Row.fromSeq(r.toSeq :+ run)
      }
      new Iterator[Row] {
        def hasNext: Boolean = {
          val h = out.hasNext
          if (!h && run - offs(pid) != expected(pid))
            throw new IllegalStateException(
              s"Sampling.withRunningSum: partition $pid token sum ${run - offs(pid)} " +
              s"!= pass-1 sum ${expected(pid)} — cached partitioning was lost and the " +
              "input lineage is not deterministic; persist the input or make it deterministic")
          h
        }
        def next(): Row = out.next()
      }
    }(enc)
    (result, total, totalRows)
  }

  /** HardSampler's full configuration surface (hard_sampler.py:10-47):
    * `top_p` as a FRACTION of the doc count or total token mass,
    * highest- or lowest-scored first. Mirrors the reference loop exactly:
    * int() truncation of the budget, doc mode cutting at exactly
    * `int(top_p * n)` docs, token mode including the budget-crossing doc
    * (append-then-break) — so a zero token budget still keeps the top doc,
    * the reference's own degenerate edge. */
  def hardTopP(df: DataFrame, scoreCol: String, topP: Double,
               unit: String = "doc", tokenCol: String = "tokens",
               highest: Boolean = true): DataFrame = {
    require(topP >= 0.0 && topP <= 1.0, s"top_p must be in [0,1], got $topP")
    require(unit == "doc" || unit == "token", s"unit must be doc|token, got $unit")
    val keyCol = "__hs_score"
    // scores here are non-null computed metrics, so negation for
    // lowest-first is safe (no null-ordering inversion)
    val keyed = df.withColumn(keyCol,
      if (highest) col(scoreCol).cast("double") else -col(scoreCol).cast("double"))
    // ONE running-sum pass supplies both the grand totals (for the
    // fractional budget) and the prefix sums (for the cut) — no separate
    // count()/agg() action re-scanning the upstream lineage
    val (withRun, total, totalRows) =
      if (unit == "doc") withRunningSum(keyed.withColumn("__one", lit(1L)), keyCol, "__one")
      else withRunningSum(keyed, keyCol, tokenCol)
    val budget = (topP * (if (unit == "doc") totalRows else total)).toLong // int() truncation
    val out =
      if (unit == "doc") {
        // indexes[:int(top_p * n)] — exactly budget docs, 0 keeps none
        withRun.where(col("__running") - col("__tok") < budget).drop("__one")
      } else if (budget == 0) {
        // append-then-break with budget 0: the reference keeps EXACTLY the
        // single top doc (even a zero-token one) — a prefix-sum filter
        // can't express "first row only" when leading docs have 0 tokens,
        // so take the ordering's head (ties broken arbitrarily, like the
        // reference's unstable argsort among equal scores)
        withRun.orderBy(col(keyCol).desc).limit(1)
      } else
        withRun.where(col("__running") - col("__tok") < budget)
    out.drop("__running", "__tok", keyCol)
  }

  /** eta_dacp/hard_sampler.py:8-47 — keep the top-scored docs up to a
    * token budget (doc budget: pass a tokens=1 column). */
  def hardTopByTokens(df: DataFrame, scoreCol: String, tokenCol: String,
                      tokenBudget: Long): DataFrame = {
    val (withRun, _, _) = withRunningSum(df, scoreCol, tokenCol)
    withRun
      .where(col("__running") - col("__tok") < tokenBudget)
      .drop("__running", "__tok")
  }

  /** cdf_gc/cdf_sampler.py:9-124 — ProbabilityCalculator + Sampler:
    * sort by score descending; the top `hardFraction` of total token mass
    * gets p=1 ("hard sample"); the remainder gets p = rate × CDF position;
    * then Bernoulli-sample with a seeded rand. */
  def cdfSample(df: DataFrame, scoreCol: String, tokenCol: String,
                hardFraction: Double, rate: Double, seed: Long = 42L): DataFrame = {
    val (withRun, total, totalRows) = withRunningSum(df, scoreCol, tokenCol)
    // fail loudly instead of silently emitting NaN probabilities — but an
    // EMPTY input is legitimate (a shard may filter to nothing) and returns
    // the empty frame
    require(totalRows == 0 || total > 0,
      s"cdfSample: $totalRows rows but total token mass of '$tokenCol' is 0")
    withRun
      .withColumn("__cdf", col("__running") / total.toDouble)
      .withColumn("sample_p",
        when(col("__cdf") <= hardFraction, lit(1.0))
          .otherwise(lit(rate) * (lit(1.0) - col("__cdf") + lit(hardFraction))))
      .withColumn("sampled", rand(seed) <= col("sample_p"))
      .drop("__cdf", "__running", "__tok")
  }
}
