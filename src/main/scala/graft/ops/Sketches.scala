package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Frequency sketches for token streams whose vocabulary is too
  * large to aggregate exactly (URLs, code identifiers, n-grams at
  * 100 TB: the vocabulary shuffle of a plain `groupBy(token)` can
  * rival the corpus; a count-min sketch's aggregation state is a
  * fixed d×w table no matter the corpus). Hashes are md5-derived so
  * every bucket — and therefore every sketch cell — is deterministic
  * and identical cross-engine, which is what makes the sketch itself
  * oracle-checkable, not just the final answers.
  *
  * The heavy-hitter path follows the same discipline as
  * [[BloomJoin]]: the sketch can only OVERestimate, so thresholding
  * estimates yields a candidate superset with no false negatives;
  * an exact count over only the candidate occurrences removes the
  * false positives. Results are exact, never approximate.
  */
object Sketches {

  /** Row-r bucket of a token via Kirsch–Mitzenmacher double hashing
    * (h1 + r·h2 mod width): ONE md5 per token supplies both 60-bit
    * halves (hex chars 1–15 and 17–31 — each exact in a long; the
    * sum stays < 2^62). `h1`/`h2` are columns so the md5 is computed
    * once per occurrence, not once per sketch row. */
  def cmBucket(h1: Column, h2: Column, row: Int, width: Int): Column =
    pmod(h1 + lit(row.toLong) * h2, lit(width.toLong))

  private def cmHalves(token: Column): (Column, Column) = {
    val hx = md5(token)
    (conv(substring(hx, 1, 15), 16, 10).cast("long"),
      conv(substring(hx, 17, 15), 16, 10).cast("long"))
  }

  /** Count-min sketch of token frequencies: `depth` rows × `width`
    * buckets as (r, b, cnt) — at most d·w output rows regardless of
    * corpus size, via one narrow explode (d cells per occurrence)
    * and one map-side-combinable aggregation. Cells never present
    * have count 0 implicitly. */
  def countMin(tokens: DataFrame, tokenCol: String, depth: Int,
      width: Int): DataFrame = {
    val (h1, h2) = cmHalves(col(tokenCol))
    tokens
      .filter(col(tokenCol).isNotNull)
      .select(h1.as("h1"), h2.as("h2"))
      .select(explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"),
          cmBucket(col("h1"), col("h2"), r, width).as("b"))): _*)).as("rb"))
      .select(col("rb.r").as("r"), col("rb.b").as("b"))
      .groupBy(col("r"), col("b"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Exact φ-heavy hitters (tokens with 100·count ≥ phiPct·N, N =
    * total occurrences — cross-multiplied, no division) without a
    * full-vocabulary aggregation. The CMS estimate min_r cnt[r][h_r]
    * prefilters occurrences to a candidate superset (CMS never
    * underestimates); only candidate occurrences are shuffled for
    * the exact count. The sketch is d·w longs on the driver and
    * broadcasts; the estimate probe is a deserialized predicate
    * (same trade as [[BloomJoin]]: a per-row probe before the
    * exchange is noise next to the vocabulary shuffle it avoids).
    *
    * The token stream is scanned twice (sketch build + probe) —
    * narrow both times; at scale the exchange, not the rescan, is
    * the bottleneck.
    *
    * Null tokens are ignored entirely: excluded from the sketch,
    * from N, and from the reported hitters.
    *
    * @return (w, cnt) for every token with 100·cnt ≥ phiPct·N
    */
  def heavyHitters(tokens: DataFrame, tokenCol: String, phiPct: Int,
      depth: Int = 4, width: Int = 8192): DataFrame = {
    require(depth >= 1 && width >= 1 && phiPct >= 1,
      s"depth=$depth width=$width phiPct=$phiPct must be positive")
    val cells = countMin(tokens, tokenCol, depth, width).collect()
    val table = Array.fill(depth, width)(0L)
    cells.foreach(r =>
      table(r.getAs[Int]("r"))(r.getAs[Long]("b").toInt) =
        r.getAs[Long]("cnt"))
    // every occurrence lands in exactly one cell per row, so row 0
    // already holds the total — no separate count() pass
    val total = table(0).sum
    // est(w) = min_r cnt[r][b_r];  est·100 ≥ total·φ  ⇔
    // ∀r: cnt[r][b_r]·100 ≥ total·φ  ⇔  ∀r: b_r ∈ hot(r), where
    // hot(r) = buckets of row r at/above the threshold. Row r's counts
    // sum to `total`, so |hot(r)| ≤ 100/φ — a tiny per-row literal
    // list, probed with the SAME codegen'd md5-route expressions
    // (cmHalves/cmBucket) that built the sketch. This replaces the
    // interpreted UDF probe that deserialized every token on the hot
    // row path (opt round 16; guide step 4: no non-codegen expressions
    // in the hot path).
    val hot: Array[Array[Long]] = Array.tabulate(depth)(r =>
      table(r).zipWithIndex.collect {
        case (cnt, b) if cnt * 100 >= total * phiPct.toLong => b.toLong
      })
    val (h1, h2) = cmHalves(col(tokenCol))
    val candidate =
      if (hot.exists(_.isEmpty)) lit(false)
      else (0 until depth).map(r =>
        cmBucket(col("__h1"), col("__h2"), r, width)
          .isin(hot(r).map(Long.box): _*)).reduce(_ && _)
    tokens
      .filter(col(tokenCol).isNotNull)
      .select(col(tokenCol), h1.as("__h1"), h2.as("__h2"))
      .filter(candidate)
      .groupBy(col(tokenCol).as("w"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 100 >= total * phiPct.toLong)
      .select(col("w"), col("cnt"))
  }

  /** HyperLogLog register table (Flajolet et al. 2007) over
    * md5-derived 60-bit hashes: top `p` bits pick the register j,
    * the rank is the leading-zero count of the remaining 60−p bits
    * plus one. The registers themselves are DETERMINISTIC and
    * oracle-checkable exactly — only [[hllEstimate]] is approximate.
    * Aggregation state is ≤ 2^p (j, max rank) pairs, max-combinable
    * map-side, regardless of input size — THE distinct-count sketch
    * for a 100 TB column where exact `count(distinct)` would shuffle
    * the full value set. Registers with no element are absent (rank
    * 0 implicitly). All codegen'd built-ins: md5/conv/shiftright/
    * bin — no UDF anywhere. */
  def hllRegisters(tokens: DataFrame, tokenCol: String,
      p: Int): DataFrame =
    hllRegistersBy(tokens, Seq.empty, tokenCol, p)

  /** Merge register tables of disjoint scans: elementwise max — the
    * property that makes HLL state unionable across partitions,
    * files, or days without rescanning. */
  def hllMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("j")).agg(max(col("rank")).as("rank"))

  /** Per-group HLL register tables: one bounded sketch per key in
    * `groupCols` (distinct fingerprints per source, per language,
    * per day…) — ≤ 2^p rows per group, one map-side-combinable
    * aggregation, where an exact per-group `count(distinct)` would
    * shuffle every distinct value. Group sketches merge across runs
    * with the same max-by-(group, j) device as [[hllMerge]]. */
  def hllRegistersBy(tokens: DataFrame, groupCols: Seq[String],
      tokenCol: String, p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"p=$p outside [4,16]")
    val k = 60 - p
    val h = conv(substring(md5(col(tokenCol)), 1, 15), 16, 10)
      .cast("long")
    val rem = h.bitwiseAND(lit((1L << k) - 1))
    val rank = when(rem === 0L, lit(k + 1))
      .otherwise(lit(k + 1) - length(ltrim(bin(rem), "0")))
    tokens
      .select((groupCols.map(col) :+ shiftright(h, k).as("j")
        :+ rank.as("rank")): _*)
      .groupBy(groupCols.map(col) :+ col("j"): _*)
      .agg(max(col("rank")).as("rank"))
  }

  /** Bottom-k (KMV) sketch: the `k` rows whose md5 key hash is
    * smallest — a DETERMINISTIC uniform sample of the key population
    * that doubles as a distinct-count estimator ([[kmvEstimate]]).
    * `keyCol` must uniquely identify rows (a doc id); for
    * duplicate-laden columns, `dropDuplicates` first — the sketch
    * contract is over distinct keys.
    *
    * Plan shape: `orderBy(hash).limit(k)` compiles to
    * TakeOrderedAndProject — each task keeps a k-row heap and the
    * driver merges, so state is O(k) per partition and NO full
    * shuffle happens regardless of corpus size. The sketch is
    * MERGEABLE ([[mergeBottomK]]): bottom-k of a union ≡ merge of
    * per-shard bottom-ks — per-day/per-shard sketches union into the
    * corpus sketch without rescanning, the same discipline as
    * [[hllMerge]]. Being a true uniform sample, ANY downstream
    * statistic (quantiles, means, ratios) can be read off it, and
    * because membership is a pure hash function the sample — and
    * every statistic over it — is exactly reproducible cross-engine.
    * `payload` columns ride along for those statistics. */
  def bottomK(df: DataFrame, keyCol: String, k: Int,
      payload: Seq[String] = Seq.empty): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    df.filter(col(keyCol).isNotNull)
      .select((col(keyCol) +: payload.map(col)) :+
        Pipeline.hashHex(col(keyCol), 15).as("hv"): _*)
      .orderBy(col("hv"), col(keyCol))
      .limit(k)
  }

  /** Merge bottom-k sketches of (possibly overlapping) scans: union,
    * dedup identical keys, keep the k smallest. ≤ 2k rows in flight. */
  def mergeBottomK(a: DataFrame, b: DataFrame, k: Int,
      keyCol: String): DataFrame =
    a.unionByName(b).dropDuplicates(keyCol)
      .orderBy(col("hv"), col(keyCol)).limit(k)

  /** Per-group bottom-k sketches in ONE pass: for every value of
    * `groupCol`, the `k` distinct keys with the smallest md5 hash —
    * [[bottomK]] generalized to a keyed sketch table (one KMV sample
    * per source/day/shard).
    *
    * Plan shape: the distinct is a hash aggregate (map-side partial,
    * so duplicate mass collapses before the one keyed shuffle), and
    * the `row_number ≤ k` filter compiles to a WindowGroupLimit —
    * Spark inserts a PER-PARTITION partial top-k BEFORE the window's
    * exchange, so the group shuffle carries at most k rows per group
    * per map task, never a whole source's keys onto one task. That is
    * what keeps a 10-source 100 TB corpus from serializing through 10
    * window tasks. (PlanAuditSpec asserts the WindowGroupLimit.)
    * @return (groupCol, key, hv)
    */
  def bottomKByGroup(df: DataFrame, groupCol: String, key: Column,
      k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("hv"), col("key"))
    df.select(col(groupCol), key.as("key"))
      .filter(col("key").isNotNull)
      .dropDuplicates(groupCol, "key")
      .withColumn("hv", Pipeline.hashHex(col("key"), 15))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** KMV set-operation estimates between every pair of groups (the
    * k-minimum-values θ-sketch algebra, Beyer et al. 2007 "On synopses
    * for distinct-value estimation under multiset operations"): for a
    * pair (A, B), the k smallest union hashes form an exact uniform
    * sample of A∪B, and the fraction of them present in BOTH sketches
    * estimates the Jaccard similarity |A∩B| / |A∪B|. This is the
    * dedup-planning primitive at 100 TB — "how much of source A is
    * already in source B" costs two k-row sketches per source, not a
    * cross-source content join.
    *
    * Everything reported is exact integer arithmetic over the
    * deterministic sketches (`union_k` = rows kept, `inter_count` =
    * rows in both, `jaccard_ppm` = inter·10⁶ div union_k), so the
    * whole pipeline is value-checkable cross-engine; only the
    * INTERPRETATION as a cardinality ratio is approximate (±1/√k,
    * exact whenever k covers the union — spec-pinned).
    *
    * Scale shape: `sketches` is already ≤ k·|groups| rows, so every
    * join here is broadcast-sized; the pair fan-out is |groups|²/2 ×
    * 2k rows — QUADRATIC in group count, which is exactly right for
    * its intended unit (dozens-to-hundreds of SOURCES) and a footgun
    * for anything finer (10⁴ domains → 5·10⁷ pairs × 2k rows through
    * a broadcast). `maxGroups` makes that boundary an error with the
    * cost spelled out instead of an OOM; callers with a genuinely
    * larger unit raise it explicitly after doing the pair math.
    * @param sketches output of [[bottomKByGroup]]
    * @return (group_a, group_b, union_k, inter_count, jaccard_ppm)
    */
  def kmvPairOverlap(sketches: DataFrame, groupCol: String,
      k: Int, maxGroups: Int = 1000): DataFrame = {
    val groups = sketches.select(col(groupCol).as("g")).distinct()
    // one bounded count on the (≤ k·|groups|-row) sketch table — cheap
    // relative to the pair stage it guards
    val nGroups = groups.count()
    require(nGroups <= maxGroups,
      s"kmvPairOverlap: $nGroups groups would fan out ~${nGroups * nGroups / 2} " +
        s"pairs (× 2k sketch rows each) through a broadcast — quadratic in " +
        s"group count. Pass maxGroups >= $nGroups only if that cost is intended.")
    val pairs = broadcast(
      groups.select(col("g").as("group_a"))
        .crossJoin(groups.select(col("g").as("group_b")))
        .filter(col("group_a") < col("group_b")))
    val tagged = sketches
      .join(pairs, col(groupCol) === col("group_a"))
      .unionByName(sketches.join(pairs, col(groupCol) === col("group_b")))
    val merged = tagged
      .groupBy(col("group_a"), col("group_b"), col("key"))
      .agg(min(col("hv")).as("hv"),
        max(when(col(groupCol) === col("group_a"), 1).otherwise(0)).as("in_a"),
        max(when(col(groupCol) === col("group_b"), 1).otherwise(0)).as("in_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group_a"), col("group_b"))
      .orderBy(col("hv"), col("key"))
    merged
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(col("group_a"), col("group_b"))
      .agg(count(lit(1)).as("union_k"),
        sum(when(col("in_a") + col("in_b") === 2, 1L).otherwise(0L))
          .as("inter_count"))
      .withColumn("jaccard_ppm",
        call_function("div", col("inter_count") * 1000000L, col("union_k")))
  }

  /** KMV distinct-count estimate: (k−1) · 2^60 / h_(k) with hashes
    * uniform in [0, 2^60). If the sketch holds fewer than k rows it
    * saw the whole population — the count is exact. Relative error
    * ~1/√(k−2); the sketch rows are exact and oracled, only this
    * estimate is approximate (same split as [[hllEstimate]]). */
  def kmvEstimate(sketch: DataFrame, k: Int): Double = {
    val hvs = sketch.select(col("hv")).collect().map(_.getLong(0)).sorted
    if (hvs.length < k) hvs.length.toDouble
    else (k - 1).toDouble * math.pow(2.0, 60) / hvs.last.toDouble
  }

  /** Bias-corrected cardinality estimate from a register table —
    * the standard harmonic mean with the linear-counting small-range
    * correction. Approximate BY DESIGN (±1.04/√m): the registers are
    * exact and oracled; the estimate is spec-checked against exact
    * distinct within the published bound. */
  def hllEstimate(registers: DataFrame, p: Int): Double = {
    val m = 1 << p
    val arr = Array.fill(m)(0)
    registers.collect().foreach { r =>
      arr(r.getLong(0).toInt) = r.getInt(1)
    }
    val alpha =
      if (m == 16) 0.673 else if (m == 32) 0.697
      else if (m == 64) 0.709 else 0.7213 / (1 + 1.079 / m)
    val e = alpha * m * m / arr.map(r => math.pow(2.0, -r)).sum
    val zeros = arr.count(_ == 0)
    if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
    else e
  }

  /** Log-histogram quantile sketch over a non-negative integer
    * measure (the DDSketch idea with radix-2 integer buckets): values
    * below 2^`subBits` get exact unit buckets; larger values bucket by
    * (exponent, top `subBits` mantissa bits), so bucket width / bucket
    * lower bound ≤ 2^-subBits — a guaranteed RELATIVE error, constant
    * across the whole value range. Completes the sketch set (HLL =
    * distinct, CMS = frequency, Bloom = membership, this = quantiles).
    *
    * The whole bucket map is integer arithmetic (`bin` length for the
    * exponent, dynamic `shiftright` for the mantissa) — no log/float
    * anywhere — so the register table is bit-identical cross-engine
    * and ORACLED, like the other sketches; only the quantile readout
    * carries the (bounded) approximation. State is ≤ (65−subBits) ·
    * 2^subBits rows per group however large the corpus or the value
    * domain: map-side combinable, mergeable by adding counts, and
    * runnable unchanged as a bounded-state streaming aggregation.
    *
    * @return (groupCols*, bucket, count); null/negative measures are
    *         excluded (count them separately if they matter)
    */
  def logHistogram(df: DataFrame, groupCols: Seq[String], measure: Column,
                   subBits: Int): DataFrame = {
    require(subBits >= 1 && subBits <= 16, s"subBits=$subBits outside [1,16]")
    val cap = 1L << subBits
    val bucket =
      s"""CASE WHEN __v < $cap THEN __v
         |ELSE (CAST(length(bin(__v)) AS BIGINT) - 1 - $subBits) * $cap
         |  + shiftright(__v, CAST(length(bin(__v)) AS INT) - 1 - $subBits)
         |END""".stripMargin
    df.select(groupCols.map(col) :+ measure.cast("long").as("__v"): _*)
      .filter(col("__v").isNotNull && col("__v") >= 0)
      .selectExpr(groupCols :+ s"$bucket AS bucket": _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(count(lit(1)).as("count"))
  }

  /** Merge two log-histogram sketches of the same shape: counts add.
    * (Union-then-reaggregate — associative, commutative, exactly the
    * partial-aggregation monoid Spark already runs map-side.) */
  def logHistMerge(a: DataFrame, b: DataFrame, groupCols: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(sum(col("count")).as("count"))

  /** Inclusive lower bound of a bucket id — the deterministic
    * quantile readout value. Exact (= the original value) below
    * 2^subBits; otherwise within a factor (1 + 2^-subBits). */
  def logHistBucketLower(bucket: Column, subBits: Int): Column = {
    val cap = 1L << subBits
    // k = e - subBits + 1; bucket ids are small ints so the floor
    // division is exact
    val k = floor(bucket / cap).cast("long")
    val t = (bucket - (k - 1) * cap).cast("long")
    when(bucket < cap, bucket)
      // t · 2^(k-1): power-of-two scaling never touches the mantissa,
      // so the double product and the long round-trip are both exact
      .otherwise((t * pow(lit(2.0), (k - 1).cast("double"))).cast("long"))
  }

  /** Discrete quantiles read from a (per-group) sketch: rank `ceil(p ·
    * total)` in bucket order — the bucket holding that rank is chosen
    * EXACTLY (counts are exact; only the value is coarsened), so the
    * returned lower bound L brackets the true percentile-disc value v
    * as L ≤ v < L · (1 + 2^-subBits). Runs on the sketch table, which
    * is bounded — the corpus is long gone by now. */
  def logHistQuantiles(sketch: DataFrame, groupCols: Seq[String],
                       subBits: Int, ps: Seq[(String, Double)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ps.nonEmpty, "ps must name at least one quantile")
    val part = Window.partitionBy(groupCols.map(col): _*)
    val cum = sketch
      .withColumn("__cum", sum(col("count")).over(
        part.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__tot", sum(col("count")).over(part))
    val aggs = ps.map { case (name, p) =>
      require(BigDecimal(p.toString).scale <= 4,
        s"quantile $p needs more than 4 decimal digits; widen the cast")
      val pDec = lit(new java.math.BigDecimal(p.toString)).cast("decimal(10,4)")
      val rank = ceil(col("__tot").cast("decimal(20,0)") * pDec)
      max(when(rank > col("__cum") - col("count") && rank <= col("__cum"),
        logHistBucketLower(col("bucket"), subBits))).as(name)
    }
    cum.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Histogram JOIN-SIZE estimation — the planner-side sketch that
    * answers "how big is this join going to be?" WITHOUT running it:
    * hash both key columns into `buckets` md5 buckets
    * ([[graft.functions.Routing.md5Route]], the reference's F1
    * partitioner), count per bucket, and sum the per-bucket count
    * products. The estimate is exact when every bucket holds one
    * distinct key and degrades smoothly as buckets collide — always
    * an UPPER bound on the true inner-join cardinality (collisions
    * only add phantom pairs), converging to it as `buckets` grows.
    * This is the textbook histogram equi-join estimator
    * (Selinger-style, per-bucket uniformity assumption).
    *
    * Scale shape: each side pays ONE map-side-combinable count
    * aggregate (output = `buckets` rows, a constant); the product
    * join is buckets × buckets-matched, driver never sees data rows.
    * At 100 TB this costs two column scans — vs actually shuffling
    * both tables to learn the size the hard way.
    *
    * @return one row: (buckets, est_rows)
    */
  def joinSizeEstimate(left: DataFrame, leftKey: Column,
      right: DataFrame, rightKey: Column, buckets: Int): DataFrame = {
    import graft.functions.Routing
    val a = left
      .select(Routing.md5Route(buckets, leftKey.cast("string")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("na"))
    val bb = right
      .select(Routing.md5Route(buckets, rightKey.cast("string")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("nb"))
    a.join(bb, Seq("b"))
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("est_rows"))
      .select(lit(buckets).as("buckets"), col("est_rows"))
  }

  /** Multi-resolution [[joinSizeEstimate]]: ONE md5-route histogram
    * pass per side at the FINEST width, every coarser width derived by
    * re-aggregating that histogram — exact, not an approximation,
    * because each width divides the finest and the route is
    * `pmod(H, n)` over a non-negative H, so
    * `pmod(pmod(H, finest), w) ≡ pmod(H, w)`. Row-identical to
    * unioning per-width [[joinSizeEstimate]] calls while each input is
    * scanned (and md5-hashed) ONCE instead of |widths| times — at
    * corpus scale the md5-over-the-fact-table pass is the entire cost,
    * and the derived re-aggregations run on ≤ finest rows
    * (localCheckpoint pins the two histograms so the per-width reads
    * never touch the corpus again).
    *
    * The two ≤finest-row checkpoints stay in the block manager until
    * the session drops them — a long-lived session that calls this
    * repeatedly should clear persistent RDDs once the returned frame
    * has been consumed ([[graft.Bench]] unpersists after every
    * query). */
  def joinSizeEstimateMulti(left: DataFrame, leftKey: Column,
      right: DataFrame, rightKey: Column, buckets: Seq[Int]): DataFrame = {
    import graft.functions.Routing
    require(buckets.nonEmpty, "joinSizeEstimateMulti: no widths")
    val finest = buckets.max
    require(buckets.forall(b => b > 0 && finest % b == 0),
      s"joinSizeEstimateMulti: every width must divide the finest ($finest), " +
        s"got $buckets")
    def hist(df: DataFrame, key: Column) = df
      .select(Routing.md5Route(finest, key.cast("string")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false)
    val ha = hist(left, leftKey)
    val hb = hist(right, rightKey)
    buckets.map { w =>
      def coarse(h: DataFrame, as: String) = h
        .groupBy(pmod(col("h"), lit(w.toLong)).as("b"))
        .agg(sum(col("n")).as(as))
      coarse(ha, "na").join(coarse(hb, "nb"), Seq("b"))
        .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("est_rows"))
        .select(lit(w).as("buckets"), col("est_rows"))
    }.reduce(_ unionByName _)
  }
}
