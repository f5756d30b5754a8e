package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Det, GraftFunctions}

/** Product quantization (PQ) for embedding similarity at the scale where
  * the RAW vectors are the bottleneck: a dim-`d` float vector stored as
  * `array<double>` costs ~8·d bytes per inverted-list copy, so a 10⁹-row
  * index at dim 768 is ~6 TB of hot list data. PQ (Jégou, Douze, Schmid,
  * TPAMI 2011 — the public algorithm behind faiss's IVFPQ) splits each
  * vector into `m` subvectors, k-means-quantizes each subspace to
  * `ksub ≤ 256` centroids, and stores only the `m` byte codes plus the
  * exact norm — ~(m + 8) bytes per row, a 30-100× reduction — while
  * queries score candidates ASYMMETRICALLY: the query stays exact, a
  * per-query table of `m · ksub` sub-dot-products is built once, and
  * each candidate costs `m` table lookups ([[graft.functions
  * .GraftFunctions.PqAdcDot]]).
  *
  * Spark shapes (nothing here is a driver loop):
  *  - training = distributed Lloyd over (sub, subvector) rows from a
  *    hash-threshold sample — the assignment pass is the codegen'd
  *    `l2_argmin` against a per-sub broadcast codebook, the update a
  *    (sub, code, pos)-keyed partial-agg shuffle, exactly the
  *    [[Similarity.refineCentroids]] pattern with a subspace key;
  *  - the codebook (m·ksub rows) folds into ONE flat broadcast array
  *    for encode/query — same shape as [[Similarity.centroidArray]];
  *  - [[ivfPqBuild]] persists cid-bucketed CODE lists (the scanned hot
  *    path carries codes, never vectors) next to an id-bucketed raw
  *    table used only to re-rank the top `refineK` ADC candidates
  *    exactly — the standard IVFPQ+refine split: quantized scan, exact
  *    tail.
  *
  * Reference anchor: the reference's ANN surface is brute-force
  * (`SymbioticLab/hadoop` has no vector ops); this extends the engine's
  * similarity family (sim1-sim8) with the published scale path, same
  * recall-gate contract as sim3/sim5.
  */
object ProductQuant {

  /** Train a product-quantizer codebook: `(sub, code, cvec)` rows with
    * dense codes `0 until ksub` for every subspace. `ksub = 0` derives
    * `min(256, max(4, ⌈√N⌉))` — small corpora get codebooks they can
    * actually fill, large ones cap at the byte-code limit. Training runs
    * on a ≈`sampleN`-row hash-threshold sample (one filter scan, the
    * [[Similarity.seedCentroids]] pattern): k-means codebooks converge
    * on a bounded sample regardless of corpus size, so the train cost
    * does NOT grow with N — only encode does, and that pass is one
    * map-only scan.
    *
    * Lloyd specifics: seeds are the hash-least `ksub` sampled subvectors
    * per sub (deterministic); an iteration assigns every sampled
    * subvector with `l2_argmin` (PQ trains on L2, the TPAMI objective)
    * and recomputes per-(sub, code) means; a code whose cluster empties
    * keeps its previous centroid, so codes stay dense and the flat
    * codebook layout never develops holes.
    */
  def pqTrain(vecs: DataFrame, idCol: String, vecCol: String, m: Int = 8,
              ksub: Int = 0, iters: Int = 3, seed: Long = 42L,
              sampleN: Long = 1L << 16): DataFrame = {
    require(m > 0, s"m must be positive, got $m")
    require(iters >= 0, s"iters must be non-negative, got $iters")
    GraftFunctions.ensureRegistered(vecs.sparkSession)
    val v = vecs.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    val n = v.count()
    require(n > 0, "pqTrain: empty corpus")
    val dim = v.select(size(col("vec"))).head().getInt(0)
    require(dim % m == 0, s"pqTrain: dimension $dim not divisible by m=$m")
    val dsub = dim / m
    val k = if (ksub > 0) ksub
            else math.min(256L, math.max(4L,
              math.ceil(math.sqrt(n.toDouble)).toLong)).toInt
    require(k <= 256, s"pqTrain: ksub=$k exceeds the byte-code range")
    val sample = (if (n <= sampleN) v
                  else {
                    val den = 1L << 20
                    val thr = math.max(1L, den * sampleN / n)
                    v.filter(pmod(xxhash64(col("id"), lit(seed)), lit(den))
                      < lit(thr))
                  }).persist()
    try {
      val ns = sample.count()
      require(ns >= k,
        s"pqTrain: sample of $ns rows cannot seed ksub=$k codes " +
          "(raise sampleN or lower ksub)")
      // (sub, svec): m subvector rows per sampled vector
      val subs = sample
        .select(col("id"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
          col("vec"))
        .select(col("id"), col("sub"),
          slice(col("vec"), col("sub") * lit(dsub) + lit(1), lit(dsub))
            .as("svec"))
        .persist()
      try {
        // deterministic seed: hash-least ksub subvectors per sub — the
        // window runs over the BOUNDED sample (≤ sampleN·m rows)
        val w = Window.partitionBy("sub")
          .orderBy(xxhash64(col("id"), lit(seed + 1)), col("id"))
        var cb = subs.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k)
          .select(col("sub"), (col("rn") - 1).cast("int").as("code"),
            col("svec").as("cvec"))
          .persist()
        cb.count() // materialize: each Lloyd pass re-reads the seed
        for (_ <- 0 until iters) {
          val assigned = subs.join(broadcast(subCodebookArrays(cb, dsub)),
              Seq("sub"))
            .select(col("sub"),
              GraftFunctions.l2Argmin(col("svec"), col("_scb")).as("code"),
              col("svec"))
          val means = assigned
            .select(col("sub"), col("code"), posexplode(col("svec")))
            .groupBy("sub", "code", "pos").agg(avg("col").as("mv"))
            .groupBy("sub", "code")
            .agg(collect_list(struct(col("pos"), col("mv"))).as("pm"))
            .select(col("sub"), col("code").cast("int").as("code"),
              transform(array_sort(col("pm")), x => x("mv")).as("mvec"))
          val next = cb.join(means, Seq("sub", "code"), "left")
            .select(col("sub"), col("code"),
              coalesce(col("mvec"), col("cvec")).as("cvec"))
            .persist()
          next.count()
          cb.unpersist()
          cb = next
        }
        // the codebook is BOUNDED control data (m·ksub ≤ 256·m rows) —
        // materialize it off the sample lineage so callers can use it
        // after the sample frames unpersist, without re-running Lloyd
        val rows = cb.collect()
        cb.unpersist()
        vecs.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), cb.schema)
      } finally subs.unpersist()
    } finally sample.unpersist()
  }

  /** The codebook folded per SUB into flat `[code][dim]` arrays —
    * the broadcast side of the training assignment join.
    */
  private def subCodebookArrays(cb: DataFrame, dsub: Int): DataFrame =
    cb.groupBy("sub")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("code"), col("cvec")))),
        x => x("cvec"))).as("_scb"))

  /** The whole codebook folded into ONE flat `[sub][code][dim]` array
    * row (`m·ksub·dsub` doubles ≈ 128 KB at m=8, ksub=256, dim=64 — a
    * trivial broadcast even at dim 768), the shape `pq_encode` /
    * `pq_adc_table` consume. Struct sort order (sub, code) IS the slot
    * order because codes are dense per sub.
    */
  private[graft] def codebookArray(cb: DataFrame): DataFrame =
    cb.agg(flatten(transform(
      array_sort(collect_list(struct(col("sub"), col("code"), col("cvec")))),
      x => x("cvec"))).as("_cb"))

  /** Number of codes per subspace of a trained codebook (tiny frame). */
  private[graft] def codebookKsub(cb: DataFrame): Int =
    cb.agg(max("code")).head().getInt(0) + 1

  // ------------------------------------------------------------------
  // OPQ: optimized (rotated) product quantization
  // ------------------------------------------------------------------

  /** Parametric OPQ rotation (Ge, He, Ke, Sun, CVPR 2013 "Optimized
    * Product Quantization", §4 — the closed-form Gaussian solution, the
    * variant faiss ships as `OPQMatrix` in its non-iterative mode):
    * eigendecompose the corpus covariance, then allocate principal
    * directions to the `m` subspaces so the PRODUCT of eigenvalues
    * (the per-subspace variance "volume" the codebook must cover) is
    * balanced — plain PQ cuts the raw dimensions into contiguous
    * blocks, so on ANISOTROPIC embeddings (every real text/image
    * embedding model) a few blocks soak up most of the variance and
    * their 8-bit codebooks saturate while others quantize noise.
    * Returns the row-major d×d rotation R (rows orthonormal: distinct
    * eigenvectors of a symmetric matrix); `R·x` is the vector PQ sees.
    *
    * Rotation is a COST/RECALL transform only — exactness of the
    * serving contract is untouched because [[ivfPqQuery]]'s refine
    * stage re-ranks on the UNROTATED raw vectors (stored verbatim in
    * `<table>_vecs`), so at covering refineK the output is bit-equal
    * to the unrotated index's. What changes is how often the true
    * neighbors survive the ADC cut at small refineK (measured in
    * BASELINE.md's OPQ section; isotropic corpora gain ~nothing by
    * construction — there is no variance imbalance to fix).
    *
    * Control-plane shapes: covariance accumulates on the driver from a
    * bounded hash-threshold sample (≤ `sampleElems` array cells — the
    * [[pqTrain]] sampling discipline; rotation quality converges long
    * before that bound), and the eigensolve is O(d³) driver work:
    * cyclic Jacobi up to d = 256 (sub-second there, round-17 pins
    * unchanged), Householder tridiagonalization + implicit-shift QL
    * ([[tridiagEigen]]) above it — Jacobi's O(d³·sweeps) constant
    * measured 43.9 s at d = 768 and 171 s at d = 1024 (BASELINE.md
    * round-17 rot table), which the round-18 switch retired along
    * with the d ≤ 1024 guard (re-measured in BASELINE.md round-18).
    */
  private[graft] def opqRotation(vecs: DataFrame, idCol: String,
                                 vecCol: String, m: Int, seed: Long = 42L,
                                 sampleElems: Long = 1L << 22)
      : Array[Double] = {
    val v = vecs.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    val n = v.count()
    require(n > 0, "opqRotation: empty corpus")
    val dim = v.select(size(col("vec"))).head().getInt(0)
    require(dim % m == 0,
      s"opqRotation: dimension $dim not divisible by m=$m")
    val dsub = dim / m
    val maxRows = math.max(4L * dim, sampleElems / dim)
    val rows = (if (n <= maxRows) v
                else {
                  val den = 1L << 20
                  val thr = math.max(1L, den * maxRows / n)
                  v.filter(pmod(xxhash64(col("id"), lit(seed + 7)),
                    lit(den)) < lit(thr))
                }).select("vec").collect()
    val ns = rows.length
    require(ns >= dim,
      s"opqRotation: sample of $ns rows cannot estimate a $dim-dim " +
        "covariance (need at least d rows)")
    val xs = rows.map(_.getSeq[Double](0).toArray)
    val mean = new Array[Double](dim)
    for (x <- xs) {
      var j = 0; while (j < dim) { mean(j) += x(j); j += 1 }
    }
    for (j <- 0 until dim) mean(j) /= ns
    val cov = Array.ofDim[Double](dim, dim)
    for (x <- xs) {
      var i = 0
      while (i < dim) {
        val xi = x(i) - mean(i)
        var j = i
        while (j < dim) { cov(i)(j) += xi * (x(j) - mean(j)); j += 1 }
        i += 1
      }
    }
    for (i <- 0 until dim; j <- i until dim) {
      cov(i)(j) /= ns; cov(j)(i) = cov(i)(j)
    }
    // Jacobi below d = 256 (keeps every existing small-d pin bit-equal);
    // the Householder+QL path above it, where Jacobi's sweep constant
    // dominates (43.9 s at 768, 171 s at 1024 — the retired guard)
    val (eig, vecsM) = if (dim <= 256) jacobiEigen(cov)
                       else tridiagEigen(cov)
    // eigen-balanced allocation: directions in descending-variance
    // order, each to the (non-full) subspace with the smallest running
    // log-product of assigned eigenvalues — CVPR'13's balanced-volume
    // criterion, greedy (their Alg. is the same greedy on sorted λ)
    val order = eig.indices.sortBy(i => -eig(i))
    val logs = new Array[Double](m)
    val fill = new Array[Int](m)
    val assign = Array.ofDim[Int](m, dsub)
    order.foreach { e =>
      val s = (0 until m).filter(fill(_) < dsub).minBy(logs(_))
      assign(s)(fill(s)) = e
      fill(s) += 1
      logs(s) += math.log(math.max(eig(e), 1e-12))
    }
    // R's row (s·dsub + t) is the eigenvector assigned to slot t of
    // subspace s (eigenvectors are COLUMNS of the Jacobi V)
    val rot = new Array[Double](dim * dim)
    for (s <- 0 until m; t <- 0 until dsub) {
      val e = assign(s)(t)
      var j = 0
      while (j < dim) {
        rot((s * dsub + t) * dim + j) = vecsM(j)(e); j += 1
      }
    }
    rot
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, V) with the eigenvectors as COLUMNS of V (V(j)(e) =
    * component j of eigenvector e). Converges quadratically; 30 sweeps
    * is far past machine precision for any d this module admits.
    */
  /** Dense symmetric eigendecomposition via Householder reduction to
    * tridiagonal form followed by implicit-shift QL iteration — the
    * classic O(d³)-with-small-constant pairing (Golub & Van Loan,
    * "Matrix Computations" §8.3; the EISPACK TRED2/TQL2 lineage).
    * Same contract as [[jacobiEigen]]: returns (eigenvalues, V) with
    * the eigenvectors as COLUMNS of V (V(j)(e) = component j of
    * eigenvector e), unsorted. Replaces Jacobi past d = 256, where the
    * sweep constant made a one-time build step cost minutes.
    */
  private[graft] def tridiagEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val z = a0.map(_.clone())
    val d = new Array[Double](n)
    val e = new Array[Double](n)
    // ---- Householder reduction: A = Q·T·Qᵀ, Q accumulated in z
    var i = n - 1
    while (i >= 1) {
      val l = i - 1
      var h = 0.0
      if (l > 0) {
        var scale = 0.0
        var k = 0
        while (k <= l) { scale += math.abs(z(i)(k)); k += 1 }
        if (scale == 0.0) e(i) = z(i)(l)
        else {
          k = 0
          while (k <= l) {
            z(i)(k) /= scale; h += z(i)(k) * z(i)(k); k += 1
          }
          var f = z(i)(l)
          var g = if (f >= 0.0) -math.sqrt(h) else math.sqrt(h)
          e(i) = scale * g
          h -= f * g
          z(i)(l) = f - g
          f = 0.0
          var j = 0
          while (j <= l) {
            z(j)(i) = z(i)(j) / h
            g = 0.0
            k = 0
            while (k <= j) { g += z(j)(k) * z(i)(k); k += 1 }
            k = j + 1
            while (k <= l) { g += z(k)(j) * z(i)(k); k += 1 }
            e(j) = g / h
            f += e(j) * z(i)(j)
            j += 1
          }
          val hh = f / (h + h)
          j = 0
          while (j <= l) {
            f = z(i)(j)
            g = e(j) - hh * f
            e(j) = g
            k = 0
            while (k <= j) {
              z(j)(k) -= f * e(k) + g * z(i)(k); k += 1
            }
            j += 1
          }
        }
      } else e(i) = z(i)(l)
      d(i) = h
      i -= 1
    }
    d(0) = 0.0; e(0) = 0.0
    i = 0
    while (i < n) {
      val l = i - 1
      if (d(i) != 0.0) {
        var j = 0
        while (j <= l) {
          var g = 0.0
          var k = 0
          while (k <= l) { g += z(i)(k) * z(k)(j); k += 1 }
          k = 0
          while (k <= l) { z(k)(j) -= g * z(k)(i); k += 1 }
          j += 1
        }
      }
      d(i) = z(i)(i)
      z(i)(i) = 1.0
      var j = 0
      while (j <= l) { z(j)(i) = 0.0; z(i)(j) = 0.0; j += 1 }
      i += 1
    }
    // ---- implicit-shift QL on the tridiagonal, rotations folded into z
    i = 1
    while (i < n) { e(i - 1) = e(i); i += 1 }
    e(n - 1) = 0.0
    val eps = 2.220446049250313e-16
    var l = 0
    while (l < n) {
      var iter = 0
      var done = false
      while (!done) {
        var m = l
        var found = false
        while (m < n - 1 && !found) {
          val dd = math.abs(d(m)) + math.abs(d(m + 1))
          if (math.abs(e(m)) <= eps * dd) found = true else m += 1
        }
        if (m == l) done = true
        else {
          iter += 1
          require(iter <= 60,
            s"tridiagEigen: QL failed to converge at row $l")
          var g = (d(l + 1) - d(l)) / (2.0 * e(l))
          var r = math.hypot(g, 1.0)
          g = d(m) - d(l) + e(l) / (g + (if (g >= 0.0) math.abs(r)
                                         else -math.abs(r)))
          var s2 = 1.0
          var c = 1.0
          var p = 0.0
          var ii = m - 1
          var underflow = false
          while (ii >= l && !underflow) {
            var f = s2 * e(ii)
            val b = c * e(ii)
            r = math.hypot(f, g)
            e(ii + 1) = r
            if (r == 0.0) {
              d(ii + 1) -= p
              e(m) = 0.0
              underflow = true
            } else {
              s2 = f / r
              c = g / r
              g = d(ii + 1) - p
              r = (d(ii) - g) * s2 + 2.0 * c * b
              p = s2 * r
              d(ii + 1) = g + p
              g = c * r - b
              var k = 0
              while (k < n) {
                f = z(k)(ii + 1)
                z(k)(ii + 1) = s2 * z(k)(ii) + c * f
                z(k)(ii) = c * z(k)(ii) - s2 * f
                k += 1
              }
              ii -= 1
            }
          }
          if (!(underflow && ii >= l)) {
            d(l) -= p
            e(l) = g
            e(m) = 0.0
          }
        }
      }
      l += 1
    }
    (d, z)
  }

  private def jacobiEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0; var i = 0
      while (i < d) {
        var j = i + 1
        while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      s
    }
    var sweep = 0
    while (sweep < 30 && off() > 1e-20 * d * d) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            // tan of the annihilating angle; θ=0 (equal diagonal) is
            // the 45° rotation, t=1
            val t = if (theta == 0.0) 1.0
                    else math.signum(theta) /
                      (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) { // right-multiply columns p, q
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) { // left-multiply rows p, q
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < d) { // accumulate the eigenvector columns
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** The persisted rotation of an OPQ-built index, if any — `_rot` is
    * the presence signal (the `_pos` discipline: derived tables mark
    * their own capabilities; one bounded one-row control read). */
  private def rotationOf(spark: SparkSession, table: String)
      : Option[(Int, Array[Double])] = {
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(s"${table}_rot")
    if (!spark.sessionState.catalog.tableExists(ident)) None
    else {
      val r = spark.table(s"${table}_rot").head()
      Some((r.getInt(0), r.getSeq[Double](1).toArray))
    }
  }

  /** Rotate `vecCol`-style `nvec`/`qvec` frames when a rotation is
    * present; identity otherwise. */
  private def rotated(df: DataFrame, keep: Seq[String], vecCol: String,
                      rot: Option[(Int, Array[Double])]): DataFrame =
    rot match {
      case Some((d0, r)) =>
        // `R · v` through the codegen'd [[GraftFunctions.MatVec]] kernel —
        // one expression node per rotate, the matrix as a task-level
        // reference object (the unrolled builtin-chain first cut carried
        // d copies of the d²-literal per plan: ~2× build tax at d = 64)
        df.select((keep.map(col) :+
          GraftFunctions.matVec(col(vecCol), r).as(vecCol)): _*)
      case None => df
    }

  /** Encode a corpus: `(nid, codes binary, nrm double)` — one map-only
    * scan against the broadcast codebook, `m` bytes + one double per
    * row out.
    */
  def pqEncode(vecs: DataFrame, idCol: String, vecCol: String,
               cb: DataFrame, m: Int, ksub: Int): DataFrame = {
    GraftFunctions.ensureRegistered(vecs.sparkSession)
    vecs.select(col(idCol).as("nid"),
        col(vecCol).cast("array<double>").as("nvec"))
      .crossJoin(broadcast(codebookArray(cb)))
      .select(col("nid"),
        GraftFunctions.pqEncode(col("nvec"), col("_cb"), m, ksub).as("_pq"))
      .select(col("nid"), col("_pq.codes").as("codes"),
        col("_pq.nrm").as("nrm"))
  }

  /** Flat (exhaustive-scan) PQ top-k with exact re-rank: train, encode,
    * ADC-score every corpus row per query, keep the top `refineK` by
    * estimated cosine, then re-rank those exactly from the raw vectors.
    * The full-corpus pass moves only (qid, nid, score) rows and reads
    * `m` bytes of codes per (query, row); the raw vectors are touched
    * only for the `|Q|·refineK` survivors, gathered with a broadcast
    * semi-join against the corpus scan (no corpus shuffle — the
    * [[Similarity.cosineNearDupPairsBlocked]] gather shape). For
    * index-once / query-many service use [[ivfPqBuild]]/[[ivfPqQuery]].
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int = 8, ksub: Int = 0,
             iters: Int = 3, seed: Long = 42L, refineK: Int = 0,
             excludeSelf: Boolean = true): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    val rk = if (refineK > 0) refineK else math.max(4 * k, 32)
    val cb = pqTrain(corpus, idCol, vecCol, m, ksub, iters, seed)
    val ks = codebookKsub(cb)
    val c = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("nvec"))
    val enc = pqEncode(c, "nid", "nvec", cb, m, ks)
    val q = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qvec"))
    val tabs = q.crossJoin(broadcast(codebookArray(cb)))
      .select(col("qid"), col("qvec"),
        GraftFunctions.pqAdcTable(col("qvec"), col("_cb"), m, ks).as("_tab"),
        sqrt(aggregate(col("qvec"), lit(0.0d),
          (acc, x) => acc + x * x)).as("qnrm"))
    val scored = enc.crossJoin(
        broadcast(tabs.select(col("qid"), col("_tab"), col("qnrm"))))
      .filter(if (excludeSelf) col("qid") =!= col("nid") else lit(true))
      .select(col("qid"), col("nid"),
        Det.r6(when(col("nrm") === 0.0 || col("qnrm") === 0.0, lit(0.0))
          .otherwise(GraftFunctions.pqAdcDot(col("codes"), col("_tab"), ks)
            / (col("qnrm") * col("nrm")))).as("cos"))
    val cand = Similarity.rankTopK(scored, rk).select("qid", "nid")
    val exact = c.join(broadcast(cand), Seq("nid"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("nid"),
        Det.r6(GraftFunctions.cosineSim(col("qvec"), col("nvec"))).as("cos"))
    Similarity.rankTopK(exact, k)
  }

  /** Residual rows for assigned (cid, nid, nvec): `rvec = nvec −
    * centroid(cid)` (the IVFADC encoding input, Jégou-Douze-Schmid
    * TPAMI 2011 §IV) plus the RAW vector's norm (the cosine
    * denominator — the codes quantize the residual, the norm is the
    * document's). The centroid table is ≈√N rows — a broadcast join.
    * Multi-assigned rows get one residual PER list copy, each relative
    * to its own centroid.
    */
  private def withResiduals(assigned: DataFrame, cents: DataFrame): DataFrame =
    assigned.join(broadcast(cents), Seq("cid"))
      .select(col("cid"), col("nid"), col("nvec"),
        zip_with(col("nvec"), col("cvec"), (a, b) => a - b).as("rvec"),
        sqrt(aggregate(col("nvec"), lit(0.0d),
          (acc, x) => acc + x * x)).as("nrm"))

  /** Persist an IVFPQ index — the 100 TB serving layout:
    *  - `<table>`        (cid, nid, codes, nrm) BUCKETED by cid — the
    *    scanned hot path, ~(m+8+8) bytes of payload per row instead of
    *    the raw 8·dim;
    *  - `<table>_vecs`   (nid, nvec) bucketed by nid — the exact-refine
    *    source, read only at `refineK` rows per query, never scanned;
    *  - `<table>_cents`  the coarse quantizer (ivfBuild's layout);
    *  - `<table>_pq`     the trained codebook (m·ksub rows);
    *  - `<table>_meta`   (m, ksub, built_n, resid) — the query-side
    *    contract.
    * Coarse parameters follow [[Similarity.ivfBuild]] (nlist=⌈√N⌉,
    * double assignment); PQ parameters follow [[pqTrain]].
    *
    * Encoding is RESIDUAL (IVFADC proper, TPAMI 2011 §IV): the codes
    * quantize `nvec − centroid(cid)`, and the codebook trains on those
    * residuals — so the quantizer spends its 8·m bits on the
    * within-list displacement (norm ≪ ‖nvec‖ once the coarse step has
    * explained the bulk), not on re-describing the coarse structure;
    * the query side adds the exact `q·centroid(cid)` term back per
    * probed list. MEASURED recovery (DevPq round 9, BASELINE.md): on
    * the hash-uniform testdata embeddings — the PQ worst case — m=8 at
    * sf0.1 went from 1/20 gate queries pre-residual to 15-17/20, a
    * real but PARTIAL recovery: still under the ≥3/5-per-query gate,
    * so the oracle gates stay at the m=16 floor (20/20, minHits 3).
    * Clustered corpora sit far above this floor (m=8 holds 5/5 at
    * sf0.01 and in every clustered spec here).
    */
  /** `twoLevel = true` routes the corpus-assignment pass through the
    * super-quantizer ([[Similarity.assignListsTwoLevel]], sim6's scale
    * path): ≈(1+√nlist)·√nlist cosines per vector instead of nlist —
    * the dial for the extreme-nlist regime (nlist=⌈√N⌉ is itself 10⁵+
    * at 10¹⁰ vectors), identical table layout, so queries and appends
    * are unchanged.
    */
  /** `opq = true` trains a parametric OPQ rotation ([[opqRotation]])
    * and builds the ENTIRE quantized side — coarse centroids,
    * residuals, codebook, codes — in the rotated space, while
    * `<table>_vecs` keeps the UNROTATED raw vectors (the refine stage
    * and every exactness contract are untouched; rotation only decides
    * which candidates survive the ADC cut). The rotation persists as
    * `<table>_rot` and every query/append against the index detects
    * and applies it — callers never pass it again.
    */
  def ivfPqBuild(corpus: DataFrame, idCol: String, vecCol: String,
                 table: String, m: Int = 8, ksub: Int = 0, nlist: Int = 0,
                 nassign: Int = 2, buckets: Int = 8, seed: Long = 42L,
                 pqIters: Int = 3, lloydIters: Int = 0,
                 twoLevel: Boolean = false, opq: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    GraftFunctions.ensureRegistered(spark)
    val c = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("nvec"))
    val n = c.count()
    val rotOpt = if (!opq) None else {
      val dim = c.select(size(col("nvec"))).head().getInt(0)
      Some((dim, opqRotation(c, "nid", "nvec", m, seed)))
    }
    // all quantized-side structure (centroids, residuals, codebook,
    // codes) lives in the rotated space; `c` (and `_vecs`) stay raw
    val cq = rotated(c, Seq("nid"), "nvec", rotOpt)
    val nl = if (nlist > 0) nlist
             else math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt)
    val seeds = Similarity.seedCentroids(cq, nl, n, seed)
    val cents = if (lloydIters > 0)
      Similarity.refineCentroids(cq, seeds, lloydIters) else seeds
    val assigned = if (twoLevel)
      Similarity.assignListsTwoLevel(cq, cents, nassign, nlist = nl.toLong)
    else Similarity.assignLists(cq, cents, nassign)
    val res = withResiduals(assigned, cents)
    // train on the residual distribution (a multi-assigned vector
    // contributes one residual per list copy — each is a draw from the
    // distribution the codes must cover); the synthetic id only drives
    // deterministic sampling/seeding inside pqTrain
    val cbook = pqTrain(
      res.select(xxhash64(col("cid"), col("nid")).as("rid"), col("rvec")),
      "rid", "rvec", m, ksub, pqIters, seed)
    val ks = codebookKsub(cbook)
    val enc = res.crossJoin(broadcast(codebookArray(cbook)))
      .select(col("cid"), col("nid"),
        GraftFunctions.pqEncode(col("rvec"), col("_cb"), m, ks)
          .getField("codes").as("codes"),
        col("nrm"))
    import spark.implicits._
    // `_meta` is the build's COMMIT RECORD: dropped before the first
    // destructive write, rewritten only after every other table has
    // landed. Every query/append reads (m, ksub) from `_meta` first, so
    // ANY torn in-place rebuild — including the round-18-flagged
    // new-or-dropped `_rot` paired with the previous build's code
    // tables, the silent ADC-recall collapse — fails loudly on the
    // missing `_meta` instead of serving mismatched rotation. (A fresh
    // build drops nothing; [[ivfPqRetrain]] already clears the derived
    // tables up front and stashes its resume facts separately.)
    BucketedJoin.dropWithLocation(spark, s"${table}_meta")
    // `_rot` lands BEFORE the core tables: rotationOf detects OPQ by
    // `_rot` presence, so a crash after the code lists but before the
    // rotation would otherwise leave a fully serveable index whose
    // codes are rotated but whose queries/appends are not. With the
    // `_meta` bracket above, every such window now fails loudly.
    rotOpt match {
      case Some((dim, rot)) =>
        BucketedJoin.writeBucketed(
          Seq((dim, rot.toSeq)).toDF("dim", "rot"), s"${table}_rot",
          "dim", 1)
      case None =>
        // a rebuild WITHOUT opq over a prior OPQ index must drop the
        // stale rotation — queries detect `_rot` by presence, and a
        // leftover one would rotate queries against unrotated centroids
        BucketedJoin.dropWithLocation(spark, s"${table}_rot")
    }
    BucketedJoin.writeBucketed(enc, table, "cid", buckets)
    BucketedJoin.writeBucketed(cents, s"${table}_cents", "cid", 1)
    BucketedJoin.writeBucketed(cbook, s"${table}_pq", "sub", 1)
    BucketedJoin.writeBucketed(c, s"${table}_vecs", "nid", buckets)
    // Build-time coarse-assignment quality — [[ivfPqAppend]]'s drift
    // reference, as in [[Similarity.ivfBuild]]. The code lists carry no
    // vectors, so the WRITTEN (cid, nid) keys rejoin the id-bucketed raw
    // table: tiny key rows shuffle to the vectors, never the reverse.
    // (`_vecs` is raw; the drift metric lives in the space the
    // centroids live in, so rotate when OPQ-built.)
    val buildMean = Similarity.meanTop1Cos(
      rotated(spark.table(table).select("cid", "nid")
          .join(spark.table(s"${table}_vecs"), Seq("nid")),
        Seq("cid", "nid"), "nvec", rotOpt),
      spark.table(s"${table}_cents"))
    BucketedJoin.writeBucketed(
      Seq((n, buildMean)).toDF("built_n", "mean_top1_cos"),
      s"${table}_stats", "built_n", 1)
    // the commit record, LAST (see the `_meta` bracket note above)
    BucketedJoin.writeBucketed(
      Seq((m, ks, n, true)).toDF("m", "ksub", "built_n", "resid"),
      s"${table}_meta", "m", 1)
    // fresh index: drop any tombstone set left by a prior index under
    // this name (stale ids would vanish from the new corpus) — cleared
    // AFTER the tables land, so an aborted build can never un-delete
    // docs on the still-standing old index
    Tombstones.clear(spark, table)
  }

  /** Absorb a batch of NEW vectors into a persisted [[ivfPqBuild]] index
    * at O(batch) cost: assign against the STANDING centroids, encode
    * with the STANDING codebook (both frozen — the [[Similarity
    * .ivfAppend]] discipline, extended to the quantizer), and re-bucket
    * the code rows and raw rows into the standing layouts. Nothing
    * existing is rewritten.
    *
    * Returned [[Similarity.IvfAppendStats]] compares the batch's mean
    * top-1-centroid cosine against the build-time reference — the
    * coarse-drift signal. A drifting batch degrades LIST recall (the
    * right vectors stop being in the probed lists); codebook staleness
    * only blurs ADC scores, which the exact refine tail absorbs — so
    * coarse drift is the one signal that matters, and the cure for
    * either is [[ivfPqRetrain]].
    *
    * Id contract: append-only, ids immutable (re-submitting an indexed
    * id double-counts it — run the dedup admission check first, as in
    * the refresh loops). `repair = true` completes a crashed absorb
    * without duplicating rows that already landed (row-level anti-join
    * on both tables, recovery-path only).
    */
  def ivfPqAppend(spark: SparkSession, table: String, batch: DataFrame,
                  idCol: String, vecCol: String, nassign: Int = 2,
                  driftTol: Double = 0.05,
                  repair: Boolean = false): Similarity.IvfAppendStats = {
    GraftFunctions.ensureRegistered(spark)
    val meta = spark.table(s"${table}_meta").head()
    val m = meta.getInt(0); val ks = meta.getInt(1)
    require(metaResid(meta),
      s"ivfPqAppend: $table is a pre-residual (raw-encoded) index — " +
        "rebuild it with ivfPqBuild/ivfPqRetrain before appending")
    val c = batch.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("nvec")).persist()
    try {
      val cents = spark.table(s"${table}_cents")
      // STANDING rotation too (the frozen-quantizer contract covers
      // the OPQ rotation: codes must stay comparable to the standing
      // codebook's space); `_vecs` keeps the raw rows below
      val cq = rotated(c, Seq("nid"), "nvec", rotationOf(spark, table))
      val assigned = Similarity.assignLists(cq, cents, nassign)
      // STANDING centroids, STANDING codebook — the frozen-quantizer
      // append; residuals are vs the same centroids the batch assigned to
      val enc = withResiduals(assigned, cents)
        .crossJoin(broadcast(codebookArray(spark.table(s"${table}_pq"))))
        .select(col("cid"), col("nid"),
          GraftFunctions.pqEncode(col("rvec"), col("_cb"), m, ks)
            .getField("codes").as("codes"),
          col("nrm"))
      val codeRows = if (repair)
        enc.join(spark.table(table).select("nid", "cid"),
          Seq("nid", "cid"), "left_anti")
      else enc
      BucketedJoin.appendBucketed(codeRows, table, "cid")
      val rawRows = if (repair)
        c.join(spark.table(s"${table}_vecs").select("nid"),
          Seq("nid"), "left_anti")
      else c
      BucketedJoin.appendBucketed(rawRows, s"${table}_vecs", "nid")
      val batchMean = Similarity.meanTop1Cos(assigned, cents)
      val buildMean = {
        val ident = org.apache.spark.sql.catalyst.TableIdentifier(s"${table}_stats")
        if (spark.sessionState.catalog.tableExists(ident))
          spark.table(s"${table}_stats").head().getDouble(1)
        else Double.NaN
      }
      Similarity.IvfAppendStats(c.count(), batchMean, buildMean,
        drifted = !buildMean.isNaN && !batchMean.isNaN &&
          batchMean < buildMean - driftTol)
    } finally c.unpersist()
  }

  /** Re-train a persisted IVFPQ index from its CURRENT corpus — the cure
    * for [[Similarity.IvfAppendStats]]`.drifted`: coarse centroids AND
    * the PQ codebook re-seed from everything absorbed so far, nlist
    * re-derives as ⌈√N⌉, and every vector re-encodes. O(corpus) — run on
    * the drift signal or a slow cadence, not per batch.
    *
    * The id-bucketed `_vecs` table is the full raw copy, so the rebuild
    * reads it through a rename-aside (`<table>_vecs_retrainsrc`,
    * [[Similarity.ivfRetrain]]'s crash discipline): a crash mid-rebuild
    * leaves either the renamed source (re-run to resume) or the finished
    * index — never neither. Bucket count and `m` are preserved from the
    * existing index unless overridden.
    */
  def ivfPqRetrain(spark: SparkSession, table: String, m: Int = 0,
                   nassign: Int = 2, seed: Long = 42L,
                   pqIters: Int = 3, lloydIters: Int = 0): Unit = {
    val cat = spark.sessionState.catalog
    def exists(t: String) =
      cat.tableExists(org.apache.spark.sql.catalyst.TableIdentifier(t))
    val vecs = s"${table}_vecs"
    val src = s"${vecs}_retrainsrc"
    // resume a crashed retrain: the raw corpus lives under the rename-aside
    if (exists(vecs) && exists(src)) BucketedJoin.dropWithLocation(spark, src)
    // capture m while _meta still exists; a resumed run may find the old
    // derived tables already dropped, so the previous attempt's
    // `_retrainmeta` stash (written below, dropped only on success) is
    // the fallback — resume never needs the explicit parameter
    val mEff = if (m > 0) m
               else if (exists(s"${table}_meta"))
                 spark.table(s"${table}_meta").head().getInt(0)
               else if (exists(s"${table}_retrainmeta"))
                 spark.table(s"${table}_retrainmeta").head().getInt(0)
               else sys.error(s"ivfPqRetrain: ${table}_meta is gone and no " +
                 "retrain stash exists — pass m explicitly")
    // an OPQ-built index retrains WITH a fresh rotation (the corpus
    // the rotation summarizes is exactly what drifted). The answer
    // must survive a crash AFTER `_rot` drops, so it rides the same
    // stash as m — a resumed run reads the stash, never re-detects
    // (an old two-less-column stash from a pre-OPQ build reads false,
    // which is also what such an index was).
    val hadRot = if (exists(s"${table}_rot")) true
                 else if (exists(s"${table}_retrainmeta")) {
                   val r = spark.table(s"${table}_retrainmeta").head()
                   r.schema.fieldNames.contains("opq") &&
                     r.getAs[Boolean]("opq")
                 } else false
    import spark.implicits._
    BucketedJoin.writeBucketed(Seq((mEff, hadRot)).toDF("m", "opq"),
      s"${table}_retrainmeta", "m", 1)
    if (exists(vecs)) {
      spark.sql(s"ALTER TABLE $vecs RENAME TO $src")
    } else require(exists(src),
      s"ivfPqRetrain: neither $vecs nor $src exists")
    val buckets = cat.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(src))
      .bucketSpec.map(_.numBuckets).getOrElse(8)
    try {
      for (t <- Seq(table, s"${table}_cents", s"${table}_pq",
                    s"${table}_meta", s"${table}_stats",
                    s"${table}_rot"); if exists(t))
        BucketedJoin.dropWithLocation(spark, t)
      ivfPqBuild(spark.table(src), "nid", "nvec", table, m = mEff,
        nassign = nassign, buckets = buckets, seed = seed,
        pqIters = pqIters, lloydIters = lloydIters, opq = hadRot)
    } catch {
      case t: Throwable =>
        // roll back only when the rebuilt raw table didn't land
        if (!exists(vecs)) spark.sql(s"ALTER TABLE $src RENAME TO $vecs")
        throw t
    }
    BucketedJoin.dropWithLocation(spark, src)
    BucketedJoin.dropWithLocation(spark, s"${table}_retrainmeta")
  }

  /** Physically fold [[Tombstones]] into an [[ivfPqBuild]] index: the
    * code lists and the raw-vector table are rewritten without the
    * tombstoned rows (crash-safe swap per table, idempotent), and the
    * set is cleared. `_meta.built_n` / `_stats` keep their build-time
    * values — they are drift references, not row counts.
    */
  def ivfPqFoldTombstones(spark: SparkSession, table: String): Unit =
    Tombstones.fold(spark, table, Seq(
      (table, "nid", "cid"), (s"${table}_vecs", "nid", "nid")))

  /** Does this index hold residual-encoded codes? (Pre-residual tables
    * have no `resid` meta column.) */
  private def metaResid(meta: org.apache.spark.sql.Row): Boolean =
    meta.schema.fieldNames.contains("resid") &&
      meta.getAs[Boolean]("resid")

  /** Query a persisted IVFPQ index: probe `nprobe` lists exactly as
    * [[Similarity.ivfQuery]] (probes shuffle TO the cid-bucketed lists;
    * the index never moves), ADC-score the probed candidates off their
    * byte codes, keep the top `refineK` (default `max(4k, 32)`) per
    * query by estimated cosine, and re-rank exactly against the
    * id-bucketed raw table. With candidate recall from the ADC stage at
    * gate level, the output IS the exact cosine top-k over the probed
    * lists — quantization decides which tail gets pruned, not the final
    * ranking.
    *
    * Residual scoring (IVFADC): the codes quantize `nvec −
    * centroid(cid)`, so the inner-product estimate decomposes exactly as
    * `q·nvec = q·centroid(cid) + q·residual` — the first term is
    * computed EXACTLY per (query, probed list) on the tiny probes frame
    * (|Q|·nprobe rows), the second is the ADC table sum. The table
    * itself is built once per query from the raw `qvec` (residual
    * centroids live in displacement space; no per-list tables needed).
    *
    * The per-query distance tables ride a BROADCAST keyed by qid —
    * `|Q| · m · ksub` doubles — and the refine stage broadcasts the raw
    * query vectors (`|Q| · dim` doubles), which is why this path serves
    * QUERY BATCHES, not corpus-sized self-joins. That boundary is
    * enforced: when either per-query broadcast (sized as
    * `(m·ksub + dim) · 8` bytes/query) would exceed
    * `maxAdcBroadcastBytes` (default 256 MB), the query frame is
    * processed in hash-partitioned
    * CHUNKS sized back under the cap — each chunk runs the full
    * probe→score→refine pipeline and the per-query top-k union is
    * exact, because chunking partitions by qid and every scoring row
    * carries exactly one qid. A corpus-sized caller degrades to a
    * sequence of bounded broadcasts instead of an executor OOM.
    */
  def ivfPqQuery(spark: SparkSession, table: String, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int, nprobe: Int = 0,
                 probeFrac: Double = 0.5, refineK: Int = 0,
                 excludeSelf: Boolean = true,
                 maxAdcBroadcastBytes: Long = 256L << 20): DataFrame = {
    require(probeFrac > 0.0 && probeFrac <= 1.0,
      s"probeFrac must be in (0, 1], got $probeFrac")
    require(maxAdcBroadcastBytes > 0,
      s"maxAdcBroadcastBytes must be positive, got $maxAdcBroadcastBytes")
    GraftFunctions.ensureRegistered(spark)
    val meta = spark.table(s"${table}_meta").head()
    val m = meta.getInt(0); val ks = meta.getInt(1)
    val resid = metaResid(meta)
    val rk = if (refineK > 0) refineK else math.max(4 * k, 32)
    val cents = spark.table(s"${table}_cents")
    val np = if (nprobe > 0) nprobe
             else math.max(1, math.ceil(probeFrac * cents.count()).toInt)
    val q0 = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qvec"))
    val cbArr = broadcast(codebookArray(spark.table(s"${table}_pq")))
    // OPQ-built index: probe and ADC-score in the ROTATED space (the
    // space the centroids/codes live in); the refine stage below keeps
    // the RAW query against the raw `_vecs` rows, so refined scores
    // are bit-identical to an unrotated index's
    val rotOpt = rotationOf(spark, table)
    // tombstoned docs leave results immediately (broadcast anti-join
    // over the code-list scan; cand is derived from it, so the refine
    // join never resurrects a deleted id). Physical rows go at fold.
    val lists = Tombstones.filterOut(spark, table, spark.table(table), "nid")

    def run(q: DataFrame): DataFrame = {
      val qr = rotated(q, Seq("qid"), "qvec", rotOpt)
      val tabs = qr.crossJoin(cbArr)
        .select(col("qid"),
          GraftFunctions.pqAdcTable(col("qvec"), col("_cb"), m, ks).as("_tab"),
          sqrt(aggregate(col("qvec"), lit(0.0d),
            (acc, x) => acc + x * x)).as("qnrm"))
      val probes0 = qr.crossJoin(broadcast(Similarity.centroidArray(cents)))
        .select(col("qid"), col("qvec"),
          explode(GraftFunctions.ivfTopCents(col("qvec"), col("_cents"), np))
            .as("cid"))
      // the exact q·centroid(cid) term, on |Q|·nprobe rows BEFORE the
      // join against the code lists (zero per-candidate cost)
      val probes = if (resid)
        probes0.join(broadcast(cents), Seq("cid"))
          .select(col("qid"), col("cid"),
            aggregate(zip_with(col("qvec"), col("cvec"), (a, b) => a * b),
              lit(0.0d), (acc, x) => acc + x).as("qc"))
      else probes0.select(col("qid"), col("cid"), lit(0.0d).as("qc"))
      val scored = probes.join(lists, Seq("cid"))
        .filter(if (excludeSelf) col("qid") =!= col("nid") else lit(true))
        .join(broadcast(tabs), Seq("qid"))
        .select(col("qid"), col("nid"),
          Det.r6(when(col("nrm") === 0.0 || col("qnrm") === 0.0, lit(0.0))
            .otherwise((col("qc")
              + GraftFunctions.pqAdcDot(col("codes"), col("_tab"), ks))
              / (col("qnrm") * col("nrm")))).as("cos"))
      // rankTopK keeps the MAX estimate per (qid, nid), so a
      // multi-assigned doc (two lists ⇒ two DIFFERENT residual ADC
      // estimates) holds exactly one of the rk candidate slots — the
      // distinct candidate pool is genuinely rk wide
      val cand = Similarity.rankTopK(scored, rk).select("qid", "nid")
      val exact = cand.join(spark.table(s"${table}_vecs"), Seq("nid"))
        .join(broadcast(q), Seq("qid"))
        .select(col("qid"), col("nid"),
          Det.r6(GraftFunctions.cosineSim(col("qvec"), col("nvec"))).as("cos"))
      Similarity.rankTopK(exact, k)
    }

    // chunk sizing counts BOTH per-query broadcasts: the ADC table
    // (m·ksub doubles) and the raw qvec the refine stage re-broadcasts
    // (dim doubles — dominant when dim > m·ksub, e.g. dim=768 at m=8).
    // One agg job yields count and dim together. Hash chunks hit the
    // cap in expectation, not worst-case — the 256 MB default leaves
    // ample headroom against qid-hash skew.
    val stats = q0.agg(count(lit(1)).as("n"),
      max(size(col("qvec"))).as("d")).head()
    val qn = stats.getLong(0)
    // max(size(qvec)) is null when every qvec is null — surface that as
    // a caller error, not a driver NPE
    require(qn == 0 || !stats.isNullAt(1),
      s"ivfPqQuery: every $vecCol in the query frame is null")
    val dim = if (qn == 0) 0 else stats.getInt(1)
    val perQueryBytes = (m.toLong * ks + dim) * 8.0
    val nChunks = math.max(1L, math.ceil(
      (qn.toDouble * perQueryBytes) / maxAdcBroadcastBytes).toLong).toInt
    if (nChunks == 1) run(q0)
    else (0 until nChunks).map(i =>
        run(q0.filter(pmod(xxhash64(col("qid")), lit(nChunks)) === i)))
      .reduce(_.unionByName(_))
  }

  /** [[ivfPqQuery]] over doc-disjoint shard indexes — the memory-budget
    * ANN leg at the scale where even ONE IVFPQ index outgrows a box
    * (codes are ~m·8/(dim·64) of raw bytes, but 10⁹+ vectors still
    * overflow; the sharded layout is how a cluster holds them as
    * per-executor-group indexes). Per-shard ADC ranking + exact refine
    * against that shard's OWN codebook/centroids (each shard trained
    * on its own residual distribution — quantization quality is the
    * single-index story per shard), per-shard tombstones, bounded
    * top-k merge via [[Similarity.mergeShardTopK]]. The refined `cos`
    * is EXACT cosine on raw vectors, so merged scores are globally
    * comparable even across differently-trained shard codebooks.
    */
  def ivfPqShardedQuery(spark: SparkSession, tables: Seq[String],
                        queries: DataFrame, idCol: String, vecCol: String,
                        k: Int, nprobe: Int = 0, probeFrac: Double = 0.5,
                        refineK: Int = 0, excludeSelf: Boolean = true,
                        maxAdcBroadcastBytes: Long = 256L << 20): DataFrame = {
    require(tables.nonEmpty, "ivfPqShardedQuery needs at least one shard")
    Similarity.mergeShardTopK(
      tables.map(ivfPqQuery(spark, _, queries, idCol, vecCol, k,
        nprobe = nprobe, probeFrac = probeFrac, refineK = refineK,
        excludeSelf = excludeSelf,
        maxAdcBroadcastBytes = maxAdcBroadcastBytes)), k)
  }

  /** Grow one IVFPQ shard into two doc-disjoint children —
    * [[Similarity.splitShard]]'s contract extended to the quantized
    * family: code lists and the raw-vector table rehash by `nid`,
    * while the coarse quantizer, PQ codebook, meta, drift reference and
    * OPQ rotation (`_cents`/`_pq`/`_meta`/`_stats`/`_rot`) copy
    * verbatim (the frozen-quantizer contract [[ivfPqAppend]] proves;
    * existing codes stay byte-valid because they were encoded against
    * exactly these centroids, codebook and rotation — nothing
    * re-encodes). Serving the family with the parent replaced by its
    * children probes the SAME lists with the SAME ADC estimates; the
    * one shard-count-sensitive stage is the per-shard `refineK`
    * TRUNCATION, which RELAXES across a split (each parent refine
    * candidate ranks at least as high inside its own child, so the
    * children's union refine pool ⊇ the parent's) — post-split results
    * are row-identical whenever the refine pool covers the contenders
    * (spec-pinned at a covering refineK) and can only IMPROVE recall
    * otherwise, never degrade. Tombstoned rows drop during the rehash.
    * The one reshard protocol and crash contract ([[Sharding]]); a
    * parent mid-[[ivfPqRetrain]] (live `_vecs_retrainsrc`) is rejected
    * loudly.
    */
  def splitShard(spark: SparkSession, parent: String,
                 child0: String, child1: String,
                 shardIndex: Int = 0, nShards: Int = 1): Unit =
    splitShardImpl(spark, parent, child0, child1, shardIndex, nShards,
      failAt = -1)

  /** [[splitShard]] with the [[Retrieval.InjectedSplitCrash]] seam. */
  private[graft] def splitShardImpl(spark: SparkSession, parent: String,
                                    child0: String, child1: String,
                                    shardIndex: Int, nShards: Int,
                                    failAt: Int): Unit =
    Sharding.split(spark, reshard, parent, child0, child1, shardIndex,
      nShards, failAt)

  /** Merge two IVFPQ shards by RETRAINING on the union of their raw
    * vectors ([[Similarity.mergeIvfShards]]' contract for the
    * quantized family: coarse centroids AND codebooks differ across
    * shards, so row unions cannot mix; the id-bucketed `_vecs` tables
    * are the full raw copies and the merged index trains whole at the
    * build defaults, `m` and the OPQ mode taken from `parent0`).
    * O(merged corpus), maintenance-cadence.
    */
  def mergeShards(spark: SparkSession, parent0: String, parent1: String,
                  merged: String): Unit =
    mergeShardsImpl(spark, parent0, parent1, merged, failAt = -1)

  /** [[mergeShards]] with the [[Retrieval.InjectedSplitCrash]] seam. */
  private[graft] def mergeShardsImpl(spark: SparkSession, parent0: String,
                                     parent1: String, merged: String,
                                     failAt: Int): Unit =
    Sharding.merge(spark, reshard, parent0, parent1, merged, failAt)

  /** The IVFPQ family's reshard layout: code lists and raw vectors
    * split by `nid`, the quantizer tables copy; a merge retrains on the
    * union ([[mergeShards]]). */
  private[graft] object reshard extends Sharding.Family("", Seq(
      Sharding.Part("", "cid", Sharding.Rows("nid")),
      Sharding.Part("_vecs", "nid", Sharding.Rows("nid")),
      Sharding.Part("_cents", "cid", Sharding.Copy),
      Sharding.Part("_pq", "sub", Sharding.Copy),
      Sharding.Part("_meta", "m", Sharding.Copy),
      Sharding.Part("_stats", "built_n", Sharding.Copy),
      Sharding.Part("_rot", "dim", Sharding.Copy))) {
    import Sharding.exists
    override def prepare(spark: SparkSession, table: String): Unit =
      require(!exists(spark, s"${table}_vecs_retrainsrc"),
        s"$table has a live retrain rename-aside " +
          s"(${table}_vecs_retrainsrc) — finish or heal the retrain first")
    override def buildMerged(spark: SparkSession, parents: Seq[String],
                             merged: String, buckets: Int): Unit = {
      val corpus = parents.map { p =>
        Tombstones.filterOut(spark, p, spark.table(s"${p}_vecs"), "nid")
      }.reduce(_.unionByName(_))
      // retrain-on-union keeps the family's quantization mode: the
      // merge is OPQ iff parent0 is (a mode mismatch gets the
      // mergedBucketCount treatment — proceed, but say so)
      val opq = exists(spark, s"${parents.head}_rot")
      if (parents.exists(p => exists(spark, s"${p}_rot") != opq))
        System.err.println(s"[graft] mergeShards: " +
          s"${parents.mkString(" and ")} disagree on OPQ rotation — " +
          s"merging with ${parents.head}'s mode (opq=$opq)")
      ivfPqBuild(corpus, "nid", "nvec", merged,
        m = spark.table(s"${parents.head}_meta").head().getInt(0),
        buckets = buckets, opq = opq)
    }
  }
}
