package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Distributed spherical k-means (Lloyd's) over an embedding DataFrame —
  * the fit step that produces the IVF coarse centroids
  * [[Similarity.ss4AnnIvf]] consumes (its seeded centroids stand in for
  * this fit at fixture scale).
  *
  * Scale design: each iteration is ONE assignment pass (argmax cosine
  * against k broadcast literal centroids — per-row codegen, no shuffle)
  * plus ONE tiny-key aggregation (posexplode → (cell, dim) partial sums,
  * map-side combined — the ss7 shape). Driver state is k×dim floats per
  * iteration, the legitimate model-parameter collect of iterative ML; no
  * data row ever reaches the driver.
  *
  * Determinism at any parallelism: init = farthest-point (Gonzalez)
  * seeds over a hash-ordered sample, ties by vec_id; component sums are
  * 1e-6 floor-quantized exact longs (the ss7 convention), so every
  * iteration — and therefore the fit — is bit-reproducible. */
object KMeans {

  /** Fitted model: centroids (unnormalized component means) and the
    * iterations actually run (< maxIters means assignments converged). */
  final case class Model(centroids: Seq[Array[Float]], iters: Int, converged: Boolean)

  /** Above this k the literal when-chain argmax overflows Janino's 64 KB
    * generated-method limit (whole-stage codegen falls back to
    * interpreted — measured at 64 cells); assignment switches to the
    * exploded form: per-row fan-out over a (cell, centroid, norm) table
    * ([[scoredCellRows]]: a literal array up to [[MaxLiteralCells]], a
    * broadcast DataFrame past it) + ONE aggregation of slim (vec_id,
    * cell, score) rows with map-side partial max. Same argmax, same
    * tie-breaking, same scalar arithmetic — bit-identical
    * assignments. */
  val MaxWhenChainCells = 16

  /** SPEC-ONLY SEAM since round 14: production assignment at every tier
    * above the small when-chain cap is in-row via
    * [[graft.functions.TopCells]] (centroid matrix as a plan reference
    * object — no fan-out, no shuffle, no join-back; see
    * [[assignTopCellsWith]]); neither this constant nor the plan paths
    * it used to pick between gate any production code. It survives as
    * the boundary at which the retained bit-parity seams switch form:
    * below it the exploded LITERAL centroid table (a typedLit of
    * cells×dim floats pasted into every task binary), above it the
    * broadcast-DataFrame cross join. TopCellsSpec/KMeansSpec force each
    * seam to prove bit-identity against the in-row kernel — do not tune
    * tiers off this value. */
  val MaxLiteralCells = 256

  /** SPEC-ONLY SEAM since round 14 (see [[MaxLiteralCells]]): slim
    * (vec_id, cell, score) scoring rows of every vector against every
    * centroid — the shared producer behind the two RETIRED plan-level
    * assignment paths, kept so specs can pin the in-row
    * [[graft.functions.TopCells]] kernel bit-identical to both.
    * `broadcastPath = None` picks by [[MaxLiteralCells]]; specs force
    * each variant explicitly. The broadcast variant's cross join is
    * deliberate: every row scores every centroid, and a broadcast
    * nested-loop with a cells-row build side IS that plan — the stream
    * side never shuffles. */
  private[operators] def scoredCellRows(
      e: DataFrame, centroids: Seq[Array[Float]], nrm: Column,
      cnorms: Seq[Double], broadcastPath: Option[Boolean] = None): DataFrame = {
    val viaBroadcast = broadcastPath.getOrElse(centroids.size > MaxLiteralCells)
    if (!viaBroadcast) {
      val ctab: Seq[(Int, Seq[Float], Double)] = centroids.zipWithIndex.map {
        case (c, i) => (i, c.toSeq, cnorms(i))
      }
      e.select(col("vec_id"), col("embedding"), nrm.as("nrm"),
          explode(typedLit(ctab)).as("cc"))
        .select(col("vec_id"), col("cc._1").as("cell"),
          try_divide(VectorFunctions.vecDot(col("embedding"), col("cc._2")),
            col("nrm") * col("cc._3")).as("score"))
    } else {
      val ctabDf = e.sparkSession.createDataFrame(
        centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq, cnorms(i)) })
        .toDF("cell", "cw", "cn")
      e.select(col("vec_id"), col("embedding"), nrm.as("nrm"))
        .crossJoin(broadcast(ctabDf))
        .select(col("vec_id"), col("cell"),
          try_divide(VectorFunctions.vecDot(col("embedding"), col("cw")),
            col("nrm") * col("cn")).as("score"))
    }
  }

  /** Cell assignment by maximum cosine against literal centroids — the
    * same argmax shape ss4 plans (broadcast constants, per-row codegen,
    * zero shuffle). Ties break to the lower cell id. Rows with no valid
    * cosine — zero-norm padding vectors or dimension-mismatched arrays
    * (vec_dot yields NULL) — get cell -1 rather than silently piling
    * into a NaN-favored cell; [[fit]] excludes them from the means. */
  def assignCells(e: DataFrame, centroids: Seq[Array[Float]]): DataFrame = {
    VectorFunctions.ensureRegistered(e.sparkSession)
    // an all-zero centroid would score NaN against every row, and Spark's
    // NaN-is-greatest semantics would silently swallow the whole corpus
    // into its cell — fail fast instead
    require(centroids.forall(c => c.exists(_ != 0f)),
      "assignCells: centroids must be non-zero (a zero seed vector, e.g. a " +
        "failed-embedding padding row, cannot anchor a cosine cell)")
    val nrm = sqrt(VectorFunctions.vecDot(col("embedding"), col("embedding")))
    if (centroids.size == 1) {
      // same unassignable-row contract as the k>1 path: zero-norm rows
      // (cosine NaN) and wrong-dim rows (vec_dot NULL) get cell -1 so
      // fit(k=1) — the KMeansSpec baseline — excludes them from the mean
      val c0 = try_divide(VectorFunctions.vecDot(col("embedding"),
        typedLit(centroids.head.toSeq)), nrm)
      return e.select(col("vec_id"),
        when(isnan(c0) || c0.isNull, lit(-1)).otherwise(lit(0)).as("cell"))
    }
    val cnorms = centroids.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    if (centroids.size > MaxWhenChainCells) {
      // round 14: in-row argmax via TopCells k=1 (nanPoisons replicates
      // the max(struct)/greatest contract: any NaN score degrades the
      // whole row to -1). Replaces the cells x N fan-out + max-agg
      // shuffle PER LLOYD'S ITERATION — at corpus scale that exchange
      // moved corpus x cells slim rows five times per fit, and its
      // per-iteration literal-explode codegen (cells inlined vec_dots)
      // was the measured 254 s cold-fit wall at the 100x probe (NOTES
      // round 14; warm 18 s — the giant generated methods never JIT).
      // try_element_at + coalesce, not element_at: the ivfCellPairs
      // inferred-isnotnull lesson — and an empty probe set must map to
      // cell -1, not throw under ANSI. assignCellsExploded stays as the
      // spec parity seam.
      return e.select(col("vec_id"), col("embedding"), nrm.as("nrm"))
        .select(col("vec_id"), VectorFunctions.topCells(
          col("embedding"), col("nrm"), centroids, cnorms, 1,
          nanPoisons = true).as("cells"))
        .select(col("vec_id"),
          coalesce(try_element_at(col("cells"), lit(1)), lit(-1)).as("cell"))
    }
    val scores: Seq[Column] = centroids.zipWithIndex.map { case (c, i) =>
      try_divide(VectorFunctions.vecDot(col("embedding"), typedLit(c.toSeq)),
        nrm * cnorms(i)).as(s"c_$i")
    }
    val withScores = e.select((col("vec_id") +: col("embedding") +: scores): _*)
    val best = greatest(centroids.indices.map(i => col(s"c_$i")): _*)
    val cell = centroids.indices.foldRight(lit(-1)) { (i, els) =>
      when(col(s"c_$i") === best, lit(i)).otherwise(els)
    }
    // zero-norm rows score NaN everywhere and NaN === NaN would park them
    // all in cell 0; dimension mismatches score NULL everywhere and would
    // fall through to -1 anyway — make both explicit
    val guarded = when(isnan(col("c_0")) || col("c_0").isNull, lit(-1)).otherwise(cell)
    withScores.select(col("vec_id"), guarded.as("cell"))
  }

  /** Multi-probe cell assignment: each vector's `nProbe` BEST cells by
    * cosine — the production IVF probe set ([[Similarity]] ss4: pairs
    * straddling a cell boundary are unfindable under single-probe no
    * matter how good the centroids are; probing the few nearest cells
    * recovers them). Returns (vec_id, embedding, nrm, cells) with
    * `cells` best-first, ties to the LOWER cell id (the [[assignCells]]
    * rule — `cells[0]` is bit-identical to its `cell`); unassignable
    * rows (zero-norm, wrong-dim) DROP OUT on every plan path — the
    * in-row variants filter their empty-`cells` rows explicitly so the
    * returned row set is identical across centroid counts (the exploded
    * path drops them structurally: no valid score rows survive the
    * filter, so the vector never reaches the groupBy).
    *
    * Plan shape (round 14): EVERY path is in-row, zero-shuffle —
    * k ≤ [[MaxWhenChainCells]] keeps the literal scored-array sort
    * (fixture-scale plans untouched); every larger k runs the codegen
    * [[graft.functions.TopCells]] expression with the centroid matrix
    * as a plan reference object. The former exploded-agg and
    * broadcast-table middle/large tiers remain only as spec parity
    * seams — recomputing them per consumer of an unpersisted
    * assignment was the measured 1350 s cold-ss5 wall at 100×. */
  def assignTopCells(e: DataFrame, centroids: Seq[Array[Float]], nProbe: Int): DataFrame = {
    val cnorms = centroids.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    assignTopCellsWith(e, centroids, nProbe, cnorms)
  }

  /** [[assignTopCells]] with explicit centroid norms (the seeded ss4
    * variant scores raw dot/|e|, i.e. norms forced to 1.0). */
  private[operators] def assignTopCellsWith(e: DataFrame, centroids: Seq[Array[Float]],
                                            nProbe: Int, cnorms: Seq[Double]): DataFrame = {
    require(nProbe >= 1, "assignTopCells: nProbe must be >= 1")
    VectorFunctions.ensureRegistered(e.sparkSession)
    require(centroids.forall(c => c.exists(_ != 0f)),
      "assignTopCells: centroids must be non-zero")
    val nrm = sqrt(VectorFunctions.vecDot(col("embedding"), col("embedding")))
    if (centroids.size > MaxWhenChainCells) {
      // round 14: every tier past the when-chain cap scores IN THE ROW
      // via the codegen [[graft.functions.TopCells]] expression — the
      // centroid matrix rides as a plan reference object, so there is no
      // fan-out shuffle, no collect_list sort-fallback, no interpreted
      // sort_array, and no embedding re-join to re-execute when a
      // multi-consumer plan recomputes the assignment unpersisted
      // (knnJoinIvfKernel reads it from 4 subtrees: the measured cold
      // knnJoinFitted wall at 100x was 1350.1 s on the exploded path vs
      // a ~230 s phase sum — NOTES round 14). The retired exploded and
      // broadcast-table paths stay below as spec parity seams
      // (TopCellsSpec pins bit-identity against both).
      e.select(col("vec_id"), col("embedding"), nrm.as("nrm"))
        .withColumn("cells", VectorFunctions.topCells(
          col("embedding"), col("nrm"), centroids, cnorms, nProbe))
        .where(size(col("cells")) > 0)
    } else {
      // literal scored array sorted per row: struct(score, -cell) sorted
      // descending = best score first, ties to the lower cell id; NULL
      // (zero-norm / wrong-dim) and NaN scores filtered before the sort
      val scored = array(centroids.zipWithIndex.map { case (c, i) =>
        struct(
          try_divide(VectorFunctions.vecDot(col("embedding"), typedLit(c.toSeq)),
            nrm * cnorms(i)).as("score"),
          lit(-i).as("negcell"))
      }: _*)
      val valid = filter(scored, x =>
        x.getField("score").isNotNull && !isnan(x.getField("score")))
      val top = slice(sort_array(valid, asc = false), 1, nProbe)
      e.select(col("vec_id"), col("embedding"), nrm.as("nrm"),
        transform(top, x => (-x.getField("negcell")).cast("int")).as("cells"))
        .where(size(col("cells")) > 0)
    }
  }

  /** √N-scale probe-set assignment (k > [[MaxLiteralCells]]): the
    * centroid table rides in as ONE broadcast row holding the whole
    * (cell, centroid, norm) array, and each vector scores, filters,
    * sorts, and slices its top-n INSIDE the row with array lambdas —
    * codegen size is constant in k (a loop over ArrayData, not k
    * generated branches) and NOTHING shuffles, where the exploded-agg
    * form would push a k-struct array per vector through the
    * exchange (k=1024 → ~12 KB/vector — terabytes at corpus scale).
    * The 1-row broadcast cross join is the documented q16/ss1 pattern.
    * Scoring arithmetic, the invalid-score filter, and the
    * sort-desc/ties-to-lower-cell rule are those of the ≤
    * [[MaxWhenChainCells]] in-row path — assignments are bit-identical
    * to the exploded form (KMeansSpec). */
  private[operators] def assignTopCellsBroadcast(
      e: DataFrame, centroids: Seq[Array[Float]], nrm: Column,
      cnorms: Seq[Double], nProbe: Int): DataFrame = {
    val ctab: Seq[(Int, Seq[Float], Double)] = centroids.zipWithIndex.map {
      case (c, i) => (i, c.toSeq, cnorms(i))
    }
    val ctabDf = e.sparkSession.createDataFrame(Seq(Tuple1(ctab))).toDF("ctab")
    val scored = transform(col("ctab"), cc => struct(
      try_divide(VectorFunctions.vecDot(col("embedding"), cc.getField("_2")),
        col("nrm") * cc.getField("_3")).as("score"),
      (-cc.getField("_1")).as("negcell")))
    val valid = filter(scored, x =>
      x.getField("score").isNotNull && !isnan(x.getField("score")))
    val top = slice(sort_array(valid, asc = false), 1, nProbe)
    e.select(col("vec_id"), col("embedding"), nrm.as("nrm"))
      .crossJoin(broadcast(ctabDf))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        transform(top, x => (-x.getField("negcell")).cast("int")).as("cells"))
      .where(size(col("cells")) > 0)
  }

  /** Slim large-k top-n assignment: fan out over the centroid table
    * ([[scoredCellRows]]), score with the SAME arithmetic as the
    * when-chain, keep each vector's sorted top-n as an array —
    * collect_list is bounded at k structs per vector and the shuffle
    * rows are (vec_id, cell, score) only. */
  private[operators] def assignTopCellsExploded(
      e: DataFrame, centroids: Seq[Array[Float]], nrm: Column,
      cnorms: Seq[Double], nProbe: Int,
      broadcastPath: Option[Boolean] = None): DataFrame = {
    scoredCellRows(e, centroids, nrm, cnorms, broadcastPath)
      .where(col("score").isNotNull && !isnan(col("score")))
      .groupBy(col("vec_id"))
      .agg(slice(
        sort_array(collect_list(struct(col("score"), (-col("cell")).as("negcell"))),
          asc = false), 1, nProbe).as("top"))
      .select(col("vec_id"),
        transform(col("top"), x => (-x.getField("negcell")).cast("int")).as("cells"))
  }

  /** Large-k assignment (see [[MaxWhenChainCells]]): fan each row out
    * over the (cell, centroid, centroidNorm) table ([[scoredCellRows]]),
    * score each pair with the SAME `dot / (rowNorm * centroidNorm)`
    * arithmetic as the when-chain, and take the per-vector argmax as
    * `max(struct(score,
    * -cell))` — larger score wins, ties to the LOWER cell id via the
    * negated cell, exactly the when-chain's first-match rule. A
    * zero-norm row scores NULL everywhere (try_divide), as does a
    * wrong-dim row (vec_dot NULL): NULL score fields sort lowest, so
    * the winner's score is NULL only when ALL are — mapped to cell -1
    * (the isnan check stays for defense in depth). */
  private[operators] def assignCellsExploded(e: DataFrame, centroids: Seq[Array[Float]],
                                             nrm: Column, cnorms: Seq[Double],
                                             broadcastPath: Option[Boolean] = None): DataFrame = {
    scoredCellRows(e, centroids, nrm, cnorms, broadcastPath)
      .groupBy(col("vec_id"))
      .agg(max(struct(col("score"), (-col("cell")).as("negcell"))).as("b"))
      .select(col("vec_id"),
        when(isnan(col("b.score")) || col("b.score").isNull, lit(-1))
          .otherwise(-col("b.negcell")).cast("int").as("cell"))
  }

  /** Above this k the flat Gonzalez walk's driver cost — O(k · |pool|)
    * cosine distances with |pool| ∝ k, i.e. quadratic in k — stops
    * being negligible (k=4096 over its 8k-sized pool is ~134M distance
    * evaluations in a single driver thread), so seeding switches to the
    * TWO-LEVEL walk in [[seedIndices]]: √k coarse Gonzalez seeds
    * partition the pool, then an independent Gonzalez walk inside each
    * coarse cell picks seeds proportional to cell population —
    * O(|pool| · √k) total, sub-quadratic in k (ScaleSmoke measures the
    * growth). Below the threshold the flat walk is kept bit-identical
    * to its historical behavior (every measured recall bar stands). */
  val MaxFlatSeedCells = 1024

  private def cosDist(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    1.0 - dot / math.sqrt(na * nb)
  }

  /** Farthest-point (Gonzalez) walk over `pool` (indices into `sample`):
    * start at the pool's smallest vec_id, then repeatedly take the
    * point farthest (by cosine distance) from the seed set, ties to the
    * smaller vec_id — the historical flat seeding, verbatim, just
    * parameterized over the candidate pool. O(k · |pool|) distances. */
  private def gonzalez(sample: Array[(Long, Array[Float])],
                       pool: Array[Int], k: Int): Seq[Int] = {
    require(pool.length >= k, s"gonzalez: pool ${pool.length} < $k seeds")
    val seedIdx = scala.collection.mutable.ArrayBuffer(
      pool.minBy(i => sample(i)._1))
    val isSeed = new java.util.HashSet[Int](); isSeed.add(seedIdx.head)
    val minDist = Array.fill(pool.length)(Double.MaxValue)
    while (seedIdx.length < k) {
      val last = sample(seedIdx.last)._2
      var best = -1
      var p = 0
      while (p < pool.length) {
        val i = pool(p)
        val d = math.min(minDist(p), cosDist(sample(i)._2, last))
        minDist(p) = d
        if (!isSeed.contains(i) &&
          (best < 0 || d > minDist(best) ||
            (d == minDist(best) && sample(i)._1 < sample(pool(best))._1))) best = p
        p += 1
      }
      isSeed.add(pool(best))
      seedIdx += pool(best)
    }
    seedIdx.toSeq
  }

  /** Deterministic spread-seed selection over a driver-side sample:
    * flat Gonzalez up to [[MaxFlatSeedCells]], the two-level walk past
    * it. Returns exactly `k` distinct indices into `sample`. The
    * two-level allocation is largest-remainder proportional to coarse
    * cell population (ties to the lower cell), capped at each cell's
    * population with the shortfall redistributed in cell order — every
    * step deterministic, so the seeding (and therefore the fit) stays
    * bit-reproducible. */
  private[graft] def seedIndices(sample: Array[(Long, Array[Float])],
                                 k: Int): Seq[Int] = {
    require(sample.length >= k, s"seedIndices: sample ${sample.length} < $k")
    val all = sample.indices.toArray
    if (k <= MaxFlatSeedCells) gonzalez(sample, all, k)
    else {
      val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
      val coarse = gonzalez(sample, all, k1)
      // nearest coarse seed per pool point, ties to the lower coarse cell
      val members = Array.fill(k1)(scala.collection.mutable.ArrayBuffer[Int]())
      var i = 0
      while (i < sample.length) {
        var best = 0; var bd = Double.MaxValue
        var c = 0
        while (c < k1) {
          val d = cosDist(sample(i)._2, sample(coarse(c))._2)
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        members(best) += i
        i += 1
      }
      val pops = members.map(_.length)
      val quota = pops.map(p => k.toDouble * p / sample.length)
      val alloc = quota.zip(pops).map { case (q, p) => math.min(math.floor(q).toInt, p) }
      val order = (0 until k1).sortBy(c => (-(quota(c) - math.floor(quota(c))), c))
      var rem = k - alloc.sum
      while (rem > 0) {
        // guaranteed to terminate: Σ pops == sample.length ≥ k
        for (c <- order if rem > 0 && alloc(c) < pops(c)) { alloc(c) += 1; rem -= 1 }
      }
      (0 until k1).flatMap(c =>
        if (alloc(c) == 0) Seq.empty
        else gonzalez(sample, members(c).toArray, alloc(c)))
    }
  }

  /** Upper bound on [[fit]]'s per-iteration driver collect: the Lloyd's
    * step pulls k×dim slim (cell, dim, mean) rows back to repack the
    * centroid table — model parameters, not data, but still linear in
    * k×dim. 4096 cells × 64 dims = 262k rows is trivia; 4096 × 1024-dim
    * embeddings would be ~4.2M rows (hundreds of MB of Row overhead)
    * collected EVERY iteration — enough to wedge a busy driver. Fail
    * loud at the documented bound instead; a corpus past it wants the
    * means repacked aggregate-side (array_agg per cell → k rows of
    * dim-length arrays) before the cap is raised. */
  val MaxMeansDriverRows: Long = 1L << 21

  /** Lloyd's iterations until assignments stop changing (or maxIters).
    * Empty cells keep their previous centroid. */
  def fit(e0: DataFrame, k: Int = 8, maxIters: Int = 10): Model = {
    require(k > 0 && maxIters > 0)
    val spark = e0.sparkSession
    VectorFunctions.ensureRegistered(spark)
    val e = e0.select(col("vec_id"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // k-means++-style seeding, deterministic: ONE job collects a
      // hash-ordered sample of anchorable vectors (xxhash64(vec_id) —
      // engine/parallelism/day-independent, and a zero-norm padding row
      // cannot crash the fit just by owning a small vec_id), then a
      // driver-side farthest-point traversal picks k spread seeds by
      // cosine distance ([[seedIndices]]: flat Gonzalez to
      // [[MaxFlatSeedCells]], the sub-quadratic two-level walk past
      // it). Spread seeds beat the former k-smallest-vec_id rule on IVF
      // recall (adjacent fixture ids are near-random, so the old seeds
      // often started collapsed); the sample is ≤ max(8k, 1024) rows of
      // driver state — the same order as the k rows the old seeding
      // collected.
      val sampleN = math.max(8 * k, 1024)
      val sample: Array[(Long, Array[Float])] = e
        .where(VectorFunctions.vecDot(col("embedding"), col("embedding")) > 0)
        .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(sampleN)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      require(sample.length >= k,
        s"need at least $k non-zero vectors to seed $k cells")
      require(sample.map(_._2.length).distinct.length == 1,
        "seed vectors disagree on dimensionality — mixed-dim input")
      val dim = sample.head._2.length
      require(k.toLong * dim <= MaxMeansDriverRows,
        s"fit: k ($k) x dim ($dim) = ${k.toLong * dim} driver rows per " +
          s"Lloyd's iteration exceeds MaxMeansDriverRows ($MaxMeansDriverRows); " +
          "repack the means aggregate-side before raising the cap")
      var centroids: Seq[Array[Float]] = seedIndices(sample, k).map(i => sample(i)._2)
      var prev: Option[DataFrame] = None
      var iter = 0
      var converged = false
      while (iter < maxIters && !converged) {
        val assigned = assignCells(e, centroids)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val changed = prev match {
          case None => Long.MaxValue
          case Some(p) =>
            assigned.join(p.withColumnRenamed("cell", "prev_cell"), "vec_id")
              .where(col("cell") =!= col("prev_cell")).count()
        }
        if (changed == 0) converged = true
        else {
          // quantized exact component means per cell (the ss7 convention);
          // cell -1 = unassignable rows (zero-norm / wrong-dim), excluded
          val means = e.join(assigned.where(col("cell") >= 0), "vec_id")
            .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
            .withColumn("q", floor(col("v").cast("double") * 1000000L))
            .groupBy(col("cell"), col("dim"))
            .agg(sum(col("q")).as("qs"), count(lit(1)).as("n"))
            .select(col("cell"), col("dim"),
              (col("qs") / (col("n") * 1000000.0)).as("m"))
            .collect()
          val next = centroids.map(_.clone()).toArray
          means.foreach { r =>
            next(r.getInt(0))(r.getInt(1)) = r.getDouble(2).toFloat
          }
          // A mean can floor-quantize to the all-zero vector: a member
          // with every component in [0, 1e-6) is LEGAL input (norm > 0,
          // passes every zero-norm filter, can even be a Gonzalez seed)
          // but floor(v*1e6) = 0 per dim, and an all-zero centroid is an
          // illegal argument to the next iteration's assignCells require
          // (and to assignTopCells if maxIters lands first). Extend the
          // documented "empty cells keep their previous centroid" rule
          // to degenerate means — the previous centroid is non-zero by
          // induction (seeds are required non-zero).
          means.iterator.map(_.getInt(0)).toSet[Int].foreach { c =>
            if (!next(c).exists(_ != 0f)) next(c) = centroids(c).clone()
          }
          centroids = next.toSeq
        }
        prev.foreach(_.unpersist(false))
        prev = Some(assigned)
        iter += 1
      }
      prev.foreach(_.unpersist(false))
      Model(centroids, iter, converged)
    } finally { e.unpersist(false); () }
  }
}
