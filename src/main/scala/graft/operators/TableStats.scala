package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Column-level data profiling for training-data pipelines (SURVEY.md
  * §8 quality surface): per-column row/null/distinct counts and
  * min/max, computed in ONE scan.
  *
  * All per-column aggregates land in a single `agg` (Spark plans the
  * multi-distinct via Expand — one pass over the data, map-side
  * partials for the non-distinct parts), then the single wide row is
  * unpivoted with `stack` into one row per column. The alternative —
  * one query per column — scans the table |cols| times.
  */
object TableStats {

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__nonnull"),
        count_distinct(col(c)).as(s"${c}__distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max")
      )
    }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val stackExpr = cols.map { c =>
      s"'$c', `${c}__nonnull`, `${c}__distinct`, `${c}__min`, `${c}__max`"
    }.mkString(", ")
    wide.selectExpr("__n",
        s"stack(${cols.size}, $stackExpr) as (column_name, n_nonnull, n_distinct, min_val, max_val)")
      .select(col("column_name"), col("__n").as("n_rows"),
        (col("__n") - col("n_nonnull")).as("n_nulls"),
        col("n_distinct"), col("min_val"), col("max_val"))
  }

  /** Exact fixed-width histogram of a numeric expression — the
    * distribution surface a training pipeline wants for token/length
    * columns (where are the outliers, what does a truncation budget
    * cut). One shuffle on at most `nBins + 2` keys: bin assignment is a
    * codegen'd projection, so this runs at scan speed at any corpus
    * size — unlike `percentile_approx` it is exactly reproducible, so
    * it oracles bit-for-bit.
    *
    * Bins: `[lo + i*w, lo + (i+1)*w)` for `i in 0..nBins-1` with
    * `w = (hi-lo)/nBins`; values below `lo` land in bin -1, values at
    * or above `hi` in bin `nBins` (open-ended edge bins so nothing is
    * silently dropped).
    */
  def histogram(df: DataFrame, valueExpr: org.apache.spark.sql.Column,
                lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(nBins > 0 && hi > lo, s"need nBins > 0 and hi > lo, got $nBins, [$lo, $hi)")
    val w = (hi - lo) / nBins
    val bin = when(valueExpr < lo, lit(-1))
      .when(valueExpr >= hi, lit(nBins))
      .otherwise(floor((valueExpr - lo) / w).cast("int"))
    df.select(bin.as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo", when(col("bin") === -1, lit(Double.NegativeInfinity))
        .otherwise(lit(lo) + col("bin") * w))
      .withColumn("bin_hi", when(col("bin") === nBins, lit(Double.PositiveInfinity))
        .otherwise(lit(lo) + (col("bin") + 1) * w))
  }

  /** Exact per-group discrete quantiles of an integer column: the value
    * at rank `ceil(p * n)` of the group's sorted order (type-7-disc,
    * lower element on a split — and a total order because ties break by
    * `tieCol`). No interpolation, so every engine reproduces the exact
    * same element — unlike `percentile_cont`, whose IEEE interpolation
    * order differs across engines, or `percentile_approx`, which is a
    * sketch. One shuffle on the group key plus an in-partition sort;
    * groups stream through the window without collecting. At corpus
    * scale this is the oracled exact path — pair it with
    * `percentile_approx` when a sketch is acceptable.
    */
  def groupQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                     tieCol: String, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1), s"quantiles in (0,1]: $ps")
    val names = ps.map(p => "p" + math.round(p * 100))
    require(names.distinct.size == names.size,
      s"quantile labels collide after rounding to whole percents: $names — " +
        "space the requested ps at least a percent apart")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol)).orderBy(col(valueCol), col(tieCol))
    // null values are EXCLUDED (ranks and n over non-null values only,
    // like SQL quantile aggregates) — without this, Spark's
    // nulls-first ascending order would rank nulls at rn=1 while an
    // engine defaulting to nulls-last ranks them at rn=n, silently
    // shifting every quantile
    val ranked = df.filter(col(valueCol).isNotNull)
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col(groupCol))))
    val aggs = ps.zip(names).map { case (p, name) =>
      max(when(col("_rn") === ceil(col("_n") * p), col(valueCol))).as(name)
    }
    ranked.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("n_rows"), aggs: _*)
  }

  /** KMV (k-minimum-values) distinct-cardinality sketch per group —
    * the mergeable sketch family HyperLogLog belongs to, in a fully
    * deterministic form: with values hashed uniformly into [0, 2^60),
    * the k-th smallest distinct hash `h_(k)` estimates cardinality as
    * `(k-1) · 2^60 / h_(k)` (Bar-Yossef et al. 2002). Unlike
    * `approx_count_distinct`'s HLL++ (whose registers depend on
    * engine-internal hashing), every retained hash is a 60-bit md5
    * prefix, so an ANSI engine reproduces the estimate bit-for-bit.
    * Groups with fewer than `k` distinct hashes report exactly.
    * Output: (group, n_distinct, kmv_estimate) — `n_distinct` counts
    * distinct HASHES (what the sketch sees; 60-bit collisions are
    * negligible), kept alongside to surface the estimation error.
    *
    * Scale shape: one distinct-hash aggregate (map-side combine folds
    * duplicate content before the shuffle), then a per-group window
    * over distinct hashes. At 100 TB only (group, 8-byte hash) rows
    * cross the exchange — the sketch property that matters is the
    * k-row summary per group, mergeable across partitions/days by
    * keeping the k smallest of a union.
    */
  def distinctKmv(df: DataFrame, groupCol: String, keyCol: String,
                  k: Int = 64): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    val hashes = df.filter(col(keyCol).isNotNull)
      .select(col(groupCol), Sampling.hash60(col(keyCol)).as("hv"))
      .distinct()
    hashes
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("hv"))))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_distinct"),
           max(when(col("rk") <= k, col("hv"))).as("kth"))
      .withColumn("kmv_estimate",
        when(col("n_distinct") < k, col("n_distinct"))
          .otherwise(round(lit((k - 1).toDouble) * lit(1152921504606846976.0)
            / col("kth").cast("double")).cast("long")))
      .select(col(groupCol), col("n_distinct"), col("kmv_estimate"))
  }

  /** Count-min sketch (Cormode & Muthukrishnan 2005) over a key
    * column: `depth × width` counters, each key incrementing one
    * counter per row via independent md5-salted buckets. The sketch is
    * `depth*width` cells NO MATTER the corpus size — map-side partial
    * sums collapse every task's contribution to at most that many
    * rows before the one exchange, and two sketches (days, partitions,
    * corpora) merge by cell-wise addition. Estimates only ever
    * OVER-count (collisions add), so `min` across the depth rows is an
    * upper bound that is exact for keys that dodge collisions in any
    * row — the frequency-sketch counterpart to [[distinctKmv]], and
    * deterministic (md5, not seeded murmur) so an ANSI engine
    * reproduces every cell.
    *
    * Output: (cm_row, cm_bucket, cnt), at most depth*width rows.
    */
  def cmSketch(keys: DataFrame, keyCol: String,
               depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad sketch shape $depth x $width")
    val rows = (0 until depth).map { i =>
      struct(lit(i).as("cm_row"),
        pmod(Sampling.hash60(concat(lit(s"$i:"), col(keyCol))), lit(width))
          .as("cm_bucket"))
    }
    keys.select(explode(array(rows: _*)).as("c"))
      .groupBy(col("c.cm_row").as("cm_row"), col("c.cm_bucket").as("cm_bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point estimate for each key in `candidates` against a built
    * sketch: min over the depth counters the key hashes to. The sketch
    * side is at most depth*width rows — broadcast it; candidate keys
    * never shuffle at all.
    */
  def cmEstimate(sketch: DataFrame, candidates: DataFrame, keyCol: String,
                 depth: Int = 4, width: Int = 1024): DataFrame = {
    val probes = candidates.select(col("*"),
        explode(array((0 until depth).map(i =>
          struct(lit(i).as("cm_row"),
            pmod(Sampling.hash60(concat(lit(s"$i:"), col(keyCol))), lit(width))
              .as("cm_bucket"))): _*)).as("p"))
      .select(col("*"), col("p.cm_row").as("cm_row"), col("p.cm_bucket").as("cm_bucket"))
      .drop("p")
    // LEFT join + coalesce 0: a cell the sketch never touched counts
    // as zero in the min — an inner join would drop it and report an
    // inflated estimate (or lose never-seen keys entirely)
    probes.join(broadcast(sketch), Seq("cm_row", "cm_bucket"), "left")
      .groupBy(candidates.columns.map(col): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
  }

  /** Robust per-group outlier detection: median / MAD (median absolute
    * deviation), the estimator family that survives the outliers it
    * hunts — a mean/stddev z-score moves with every extreme value, the
    * median pair does not. Flags rows with `|v - med| > k·MAD`. All
    * ranks are exact discrete picks (`rank = (n+1) div 2`, the lower
    * median — pure integer, no interpolation), so the whole derivation
    * is engine-exact.
    *
    * Plan shape: ONE hash exchange on the group key feeds both window
    * passes (rank by value, then rank by deviation — same partitioning,
    * two in-partition sorts); nothing reshuffles between them and no
    * per-group threshold table is ever joined back.
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  idCol: String, k: Int = 3): DataFrame = {
    require(k >= 1, s"deviation multiplier must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val byGroup = Window.partitionBy(col(groupCol))
    val ranked = df.filter(col(valueCol).isNotNull)
      .withColumn("_rn", row_number().over(byGroup.orderBy(col(valueCol), col(idCol))))
      .withColumn("_n", count(lit(1)).over(byGroup))
      .withColumn("_medrank", expr("(_n + 1) div 2"))
      .withColumn("med", max(when(col("_rn") === col("_medrank"), col(valueCol))).over(byGroup))
      .withColumn("dev", abs(col(valueCol) - col("med")))
    ranked
      .withColumn("_rn2", row_number().over(byGroup.orderBy(col("dev"), col(idCol))))
      .withColumn("mad", max(when(col("_rn2") === col("_medrank"), col("dev"))).over(byGroup))
      .filter(col("dev") > col("mad") * k)
      .select(col(idCol), col(groupCol), col(valueCol), col("med"), col("mad"), col("dev"))
  }

  /** Octave-binned histogram sketch per group: `bin = bit-length of
    * (v+1)` — pure integer binning (no log-boundary float wobble), at
    * most 64 bins per group no matter how many rows, mergeable by
    * adding counts. The HdrHistogram idea reduced to its
    * cross-engine-deterministic core: where [[groupQuantiles]] pays a
    * full per-group sort for EXACT ranks, this answers the same
    * questions at 2× value resolution from a sketch whose size never
    * grows — the right trade at 100 TB for dashboards and alerting
    * thresholds, and the exact path stays available when a number must
    * be a real data point.
    */
  def histQuantileSketch(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull && col(valueCol) >= 0)
      .groupBy(col(groupCol),
        length(bin(col(valueCol).cast("long") + 1)).as("bin"))
      .agg(count(lit(1)).as("cnt"))

  /** Quantile UPPER BOUNDS from an octave sketch: for each p, the
    * smallest bin whose cumulative count reaches `ceil(p·n)`, reported
    * as that bin's largest representable value (`2^bin - 2`). The true
    * p-quantile is ≤ the bound and > half of it.
    */
  def histQuantilesFromSketch(sketch: DataFrame, groupCol: String,
                              ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1), s"quantiles in (0,1]: $ps")
    import org.apache.spark.sql.expressions.Window
    val names = ps.map(p => "p" + math.round(p * 100) + "_hi")
    require(names.distinct.size == names.size, s"quantile labels collide: $names")
    val cum = sketch
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col(groupCol)).orderBy(col("bin"))))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col(groupCol))))
    val aggs = ps.zip(names).map { case (p, name) =>
      min(when(col("cum") >= ceil(col("n") * p), col("bin"))).as(s"_b_$name")
    }
    val est = names.map(name =>
      (expr(s"shiftleft(CAST(1 AS BIGINT), CAST(_b_$name AS INT))") - 2).as(name))
    cum.groupBy(col(groupCol))
      .agg(max(col("n")).cast("long").as("n_rows"), aggs: _*)
      .select(col(groupCol) +: col("n_rows") +: est: _*)
  }

  /** Population-stability-index drift between two corpus snapshots,
    * per group — the monitoring primitive for a refreshed training
    * corpus ("did source X's length/quality distribution move?").
    * PSI = Σ_buckets (p_new - p_old)·ln(p_new/p_old) with add-one
    * smoothing over the union of observed buckets; PSI ≳ 0.2 is the
    * classic retrain-trigger threshold (in micros: 200000).
    *
    * Every term is derived from exact integer counts through one
    * fixed sequence of IEEE steps (two divisions, one ln of a ratio
    * of exact products, one multiply, one round to micros — then an
    * INTEGER sum per group), so the whole statistic hash-matches an
    * ANSI replica: no order-dependent float accumulation anywhere.
    *
    * Scale shape: each side is one map-side-combined (group, bucket)
    * aggregate — bounded by groups × bins regardless of corpus rows —
    * then a full-outer merge on the same key and a window over the
    * tiny per-group bucket list. Nothing corpus-sized crosses a second
    * exchange.
    */
  def psiDrift(oldSnap: DataFrame, newSnap: DataFrame,
               groupCol: String, bucket: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def counts(df: DataFrame, as: String) =
      df.groupBy(col(groupCol), bucket.as("bucket"))
        .agg(count(lit(1)).as(as))
    val joined = counts(oldSnap, "a_cnt")
      .join(counts(newSnap, "b_cnt"), Seq(groupCol, "bucket"), "full_outer")
      .select(col(groupCol), col("bucket"),
        coalesce(col("a_cnt"), lit(0L)).as("a"), coalesce(col("b_cnt"), lit(0L)).as("b"))
    val w = Window.partitionBy(col(groupCol))
    val withTotals = joined
      .withColumn("ta", sum(col("a")).over(w))
      .withColumn("tb", sum(col("b")).over(w))
      .withColumn("nb", count(lit(1)).over(w))
    val pa = (col("a") + 1).cast("double") / (col("ta") + col("nb")).cast("double")
    val pb = (col("b") + 1).cast("double") / (col("tb") + col("nb")).cast("double")
    val num = (col("a") + 1).cast("double") * (col("tb") + col("nb")).cast("double")
    val den = (col("b") + 1).cast("double") * (col("ta") + col("nb")).cast("double")
    withTotals
      .withColumn("term", round((pa - pb) * log(num / den) * 1e6).cast("long"))
      .groupBy(col(groupCol))
      .agg(sum(col("a")).as("n_old"), sum(col("b")).as("n_new"),
        max(col("nb")).as("n_buckets"), sum(col("term")).as("psi_micros"))
  }

  /** Heavy hitters over the corpus token stream: the exact top-`k`
    * tokens by multiplicity next to their count-min estimates — the
    * correctness harness for the sketch (CM guarantees est >= exact;
    * equality whenever any depth row is collision-free for the token).
    * The exact side exists for the comparison; at 100 TB the sketch
    * alone answers "roughly how often does X occur" with fixed memory.
    */
  def cmHeavyHitters(docs: DataFrame, textCol: String,
                     depth: Int = 4, width: Int = 1024, k: Int = 30): DataFrame = {
    val toks = docs.filter(col(textCol).isNotNull)
      .select(explode(graft.operators.text.TextAnalysis.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
    val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("token")).limit(k)
    val sketch = cmSketch(toks, "token", depth, width)
    cmEstimate(sketch, exact, "token", depth, width)
      .select(col("token"), col("exact_cnt"), col("est_cnt"))
  }

  /** Daily + rolling-window distinct actives (DAU / WAU): the stream-
    * health metric every event pipeline reports. Rolling distinct is
    * NOT window-summable (users repeat across days), so each calendar
    * day joins the distinct (day, user) pairs of its trailing window —
    * the pair table is the deduped activity set (≤ |users|·|days|
    * rows), and the day list is calendar-sized, so the non-equi join
    * broadcasts the DAY side and costs pairs×window rows, never
    * events×anything.
    */
  def activeUsers(events: DataFrame, tsCol: String, userCol: String,
                  windowDays: Int = 7): DataFrame = {
    val pairs = events.filter(col(tsCol).isNotNull)
      .select(to_date(col(tsCol)).as("day"), col(userCol).as("uid"))
      .distinct()
      .withColumn("day_num", datediff(col("day"), lit("1970-01-01")))
    val days = pairs.select(col("day"), col("day_num")).distinct()
    val dau = pairs.groupBy(col("day").as("d_day"))
      .agg(countDistinct(col("uid")).as("dau"))
    val wau = pairs.alias("p")
      .join(broadcast(days.alias("d")),
        col("p.day_num").between(col("d.day_num") - (windowDays - 1), col("d.day_num")))
      .groupBy(col("d.day").as("w_day"))
      .agg(countDistinct(col("p.uid")).as("wau"))
    dau.join(wau, col("d_day") === col("w_day"))
      .select(date_format(col("d_day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"))
  }
}
