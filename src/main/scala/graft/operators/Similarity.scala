package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two strategies:
  *  - `bruteForceTopK`: exact cosine top-k — broadcast the (small) query
  *    set against the full corpus; one scan, no shuffle of the corpus,
  *    per-query top-k via window rank. The baseline and the verifier for
  *    the approximate path.
  *  - `lshTopK`: random-hyperplane LSH — corpus and queries hashed to
  *    sign-bit buckets; candidates = same-bucket pairs (multi-probe via
  *    several independent tables); exact cosine only on candidates. At
  *    100 TB this turns a full-corpus scan per query batch into a
  *    bucket-join whose cost tracks collision counts.
  *
  * Embeddings are cast to array<double> once; cosine is the codegen'd
  * native expression (GraftFunctions.cosineSim).
  */
object Similarity {

  /** Exact top-k: (query_id, neighbor_id, cos, rank). `queries` must be
    * small enough to broadcast (it is explicitly hinted).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("nvec"))
    val q = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qvec"))
    val scored = c.join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        graft.functions.Det.r6(GraftFunctions.cosineSim(col("qvec"), col("nvec"))).as("cos"))
    rankTopK(scored, k)
  }

  /** The shared ranking tail of every top-k operator here: deterministic
    * top-k of `scored` (qid, nid, cos) per qid under (cos desc, nid asc),
    * duplicate (qid, nid) candidates collapsed to their MAX score (ties
    * in most callers — residual ADC estimates genuinely differ per list
    * copy, see TopKScoreAgg). Emits (qid, nid, cos,
    * rank 1..k) — exactly the old `dropDuplicates + row_number() window`
    * output, but through the native [[graft.functions.TopKScoreAgg]]:
    * O(k) state per query with map-side partial aggregation, instead of
    * exchanging and FULLY SORTING every scored candidate twice. At 10⁷
    * corpus / 100 queries / probeFrac 0.5 the window form moved ~5·10⁸
    * rows through two shuffles and died in the sort (DevSimScale,
    * round 7); the aggregation moves partitions·queries·k rows.
    * (`Aggregators.TopKByScore` is the typed reference implementation —
    * property-pinned and asserted equal to the native one; the native
    * agg's primitive-array buffer avoids the udaf's per-row tuple
    * encoding, a measured ~40% bench_ann tax at sf0.1.)
    * Id contract: nid must be integral (the ANN family keys on long
    * ids throughout — testdata `vec_id` is bigint); checked loudly,
    * because cast("long") on e.g. a string id would otherwise null
    * every row and return an EMPTY result instead of an error. Null
    * and NaN scores are skipped (see TopKScoreAgg).
    */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val nidType = scored.schema("nid").dataType
    require(Seq("byte", "short", "integer", "long").contains(nidType.typeName),
      s"top-k ranking requires an integral id column, got $nidType")
    scored.groupBy("qid")
      .agg(GraftFunctions.topkScore(col("nid").cast("long"), col("cos"), k).as("_tk"))
      .select(col("qid"), posexplode(col("_tk")))
      .select(col("qid"), col("col.nid").as("nid"), col("col.cos").as("cos"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Random-hyperplane LSH: signatures come from ONE native expression
    * (`GraftFunctions.lshSigs` — a codegen'd kernel that derives its
    * hyperplane matrix deterministically from the seed and the observed
    * vector dimension). No driver action anywhere in the plan, no
    * per-dimension expression unrolling: the plan is
    * map(sigs) → posexplode → bucket-join → exact cosine on candidates,
    * identical at dim=8 and dim=768.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nBits: Int = 8,
              nTables: Int = 8, seed: Long = 42L): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)

    def withSigs(df: DataFrame, id: String, out: String) = {
      val v = col(vecCol).cast("array<double>")
      df.select(col(idCol).as(id), v.as(out),
        posexplode(GraftFunctions.lshSigs(v, nBits, nTables, seed)))
        .withColumnRenamed("pos", "table").withColumnRenamed("col", "sig")
    }

    val cBuckets = withSigs(corpus, "nid", "nvec")
    val qBuckets = withSigs(queries, "qid", "qvec")
    // score BEFORE the dedup: the rounded cosine is identical on every
    // duplicate of a (qid, nid) pair, so dropDuplicates runs on 24-byte
    // rows instead of shuffling both vectors per candidate (the wide
    // form was measured as the ivf-query bottleneck in DevSimScale)
    val cand = cBuckets.join(broadcast(qBuckets),
        Seq("table", "sig")).filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        graft.functions.Det.r6(GraftFunctions.cosineSim(col("qvec"), col("nvec"))).as("cos"))
    // duplicate (qid, nid) bucket collisions carry the same rounded cos
    // — rankTopK's in-heap dedup replaces the dropDuplicates exchange
    rankTopK(cand, k)
  }

  /** Deterministic centroid seed. Small corpora (n < 64·nlist) take the
    * exact hash-ordered pick (cheap, count-exact — and what the sf0.01 /
    * sf0.1 recall gates pinned). At scale the pick switches to a
    * hash-THRESHOLD sample: a pure filter that selects ≈`nlist` rows in
    * one scan with no global sort and no driver-side top-√N merge — the
    * only driver materialization left is the broadcast of the ~nlist
    * chosen centroids, which is inherent to the coarse-quantizer design.
    */
  private[graft] def seedCentroids(c: DataFrame, nlist: Int, n: Long,
                                   seed: Long): DataFrame =
    if (n < 64L * nlist)
      c.orderBy(xxhash64(col("nid"), lit(seed)), col("nid"))
        .limit(nlist)
        .select(col("nid").as("cid"), col("nvec").as("cvec"))
    else {
      val den = 1L << 20
      val thr = math.max(1L, den * nlist / math.max(n, 1L))
      c.filter(pmod(xxhash64(col("nid"), lit(seed)), lit(den)) < lit(thr))
        .select(col("nid").as("cid"), col("nvec").as("cvec"))
    }

  /** Inverted lists: each corpus vector joins its `nassign` nearest
    * centroids (multi-assignment — redundant indexing trades `nassign`×
    * list size for recall; the standard IVF mitigation when clusters are
    * weak and a near neighbor's single best centroid often isn't the
    * query's).
    */
  private[graft] def assignLists(c: DataFrame, cents: DataFrame,
                                 nassign: Int): DataFrame =
    c.crossJoin(broadcast(centroidArray(cents)))
      .select(col("nid"), col("nvec"),
        explode(topCentroids(col("nvec"), col("_cents"), nassign)).as("cid"))
      .select(col("cid"), col("nid"), col("nvec"))

  /** TWO-LEVEL assignment (coarse quantizer over the quantizer): the
    * centroids are themselves clustered under ≈√nlist super-centroids,
    * and each corpus vector scores only the members of its `nsup` best
    * supers — ≈(1+nsup)·√nlist cosines per row instead of nlist. This is
    * the step that keeps the assignment pass linear at the extreme where
    * nlist=⌈√N⌉ is itself large (N=10¹² ⇒ 10⁶ centroids).
    *
    * Scale shape: the only ONE-ROW fold is the ≈√nlist supers
    * (√nlist·dim doubles ≈ 6 MB even at nlist=10⁶, dim 768); the full
    * nlist-centroid payload stays a MULTI-ROW broadcast table — one
    * ≈√nlist-member list per super — fetched with `nsup` map-side
    * BroadcastHashJoins against the same reused broadcast, so no single
    * row ever approaches the 2 GB `GenericArrayData` ceiling and the
    * pass stays zero-shuffle. Both ranking steps are the same
    * `ivf_top_cents` kernel, whose (cos desc, cid asc) tie-break makes
    * the whole assignment deterministic regardless of `collect_list`
    * element order. Approximate by design (a vector whose true centroid
    * hides outside its top supers assigns to the best covered one);
    * with `nsup` ≥ the super count it equals the flat ranking exactly —
    * the spec pins that equivalence, and DevSimScale measures recall at
    * 10⁶. Pass `nlist` when the caller already knows it (ivfBuild
    * does) to skip the extra `count()` job.
    */
  private[graft] def assignListsTwoLevel(c: DataFrame, cents: DataFrame,
                                         nassign: Int, nsup: Int = 4,
                                         seed: Long = 43L,
                                         nlist: Long = 0L): DataFrame = {
    val nl = if (nlist > 0) nlist else cents.count()
    val nSupers = math.max(2, math.ceil(math.sqrt(nl.toDouble)).toInt)
    val supersArr = broadcast(seedCentroids(
      cents.select(col("cid").as("nid"), col("cvec").as("nvec")),
      nSupers, nl, seed)
      .agg(collect_list(struct(col("cid"), col("cvec"))).as("_supers")))
    // each centroid joins its single best super (flat ranking — the
    // centroid table is only nlist rows, so this pass is cheap), giving
    // a partition of the centroids into per-super member lists
    val members = cents.select(col("cid").as("nid"), col("cvec").as("nvec"))
      .crossJoin(supersArr)
      .select(col("nid"), col("nvec"),
        explode(GraftFunctions.ivfTopCents(col("nvec"), col("_supers"), 1))
          .as("scid"))
      .groupBy("scid")
      .agg(collect_list(struct(col("nid").as("cid"), col("nvec").as("cvec")))
        .as("members"))
    val bMembers = broadcast(members)
    // rank supers per corpus vector, then pull each selected super's
    // member list with one left BHJ per slot (try_element_at: a corpus
    // with fewer supers than nsup yields short rankings → null slots)
    var cur = c.crossJoin(supersArr)
      .select(col("nid"), col("nvec"),
        GraftFunctions.ivfTopCents(col("nvec"), col("_supers"), nsup)
          .as("_scids"))
    for (i <- 0 until nsup) {
      cur = cur.join(
        bMembers.select(col("scid").as(s"_s$i"), col("members").as(s"_m$i")),
        try_element_at(col("_scids"), lit(i + 1)) === col(s"_s$i"), "left")
        .drop(s"_s$i")
    }
    val allMembers = flatten(array_compact(array(
      (0 until nsup).map(i => col(s"_m$i")): _*)))
    cur
      .select(col("nid"), col("nvec"),
        explode(GraftFunctions.ivfTopCents(col("nvec"), allMembers, nassign))
          .as("cid"))
      .select(col("cid"), col("nid"), col("nvec"))
  }

  /** The (≈√N-row) centroid table folded into ONE array row, to ride a
    * broadcast into a map-only per-row argmin. The alternative — a
    * crossJoin producing N×nlist ROWS ranked by a window — sorts and
    * shuffles the full vector payload N×nlist times: measured at 10⁵
    * corpus vectors (DevSimScale) that window spilled tens of GB and at
    * 10⁶ it filled the disk. The fold keeps assignment zero-shuffle;
    * only the √N·dim-double array moves (≈0.5 MB at 10⁶ rows).
    */
  private[graft] def centroidArray(cents: DataFrame): DataFrame =
    cents.agg(collect_list(struct(col("cid"), col("cvec"))).as("_cents"))

  /** Top-`n` centroid ids for one vector — the native
    * `ivf_top_cents` kernel (one fused Java loop per row, whole-stage
    * codegen; ordering (cos desc, cid asc) matches the old window
    * formulation bit-for-bit). The compositional
    * `slice(array_sort(transform(...)))` form evaluated the cosine
    * lambda interpreted per centroid — measured ~3× slower on the 10⁶
    * index build (DevSimScale). Returns array<long> of cids.
    */
  private def topCentroids(vec: Column, cents: Column, n: Int): Column =
    GraftFunctions.ivfTopCents(vec, cents, n)

  /** Lloyd refinement of a centroid seed, in pure DataFrame ops: assign
    * each vector to its nearest centroid, recompute each centroid as the
    * per-dimension mean of its list, repeat. One iteration costs one
    * broadcast assignment pass plus a (cid, dim)-keyed partial-agg
    * shuffle of N·dim value rows — fully distributed, no driver math.
    * Empty lists drop out (their seed was redundant).
    */
  def refineCentroids(c: DataFrame, cents: DataFrame,
                      iters: Int = 1): DataFrame = {
    var cur = cents
    for (_ <- 0 until iters) {
      cur = assignLists(c, cur, nassign = 1)
        .select(col("cid"), posexplode(col("nvec")))
        .groupBy("cid", "pos").agg(avg("col").as("m"))
        .groupBy("cid").agg(collect_list(struct(col("pos"), col("m"))).as("pm"))
        .select(col("cid"),
          transform(array_sort(col("pm")), x => x("m")).as("cvec"))
    }
    cur
  }

  /** IVF (inverted-file) ANN — the second scale path besides LSH:
    *  1. coarse quantizer = ≈`nlist` centroids seeded deterministically
    *     (`seedCentroids`), optionally tightened with `lloydIters`
    *     rounds of distributed Lloyd refinement;
    *  2. every corpus vector is assigned to its `nassign` nearest
    *     centroids with one broadcast pass — building the inverted lists;
    *  3. each query probes its `nprobe` nearest centroids and ranks
    *     exact cosine ONLY within those lists.
    * Per-query work drops from N to ~(nprobe/nlist)·N; the lists shuffle
    * by centroid id, so the candidate join is a bounded bucket join.
    * Fully declarative — centroid selection is a broadcast-reused
    * subplan, no driver action beyond the corpus count.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
              seed: Long = 42L, nassign: Int = 1,
              lloydIters: Int = 0): DataFrame = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("nvec"))
    val seeds = seedCentroids(c, nlist, c.count(), seed)
    val cents = if (lloydIters > 0) refineCentroids(c, seeds, lloydIters)
                else seeds
    val assigned = assignLists(c, cents, nassign)
    val q = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qvec"))
    // probe lists: nprobe nearest centroids per query — same map-only
    // argmin as assignment (scales to corpus-sized query batches)
    val probes = q.crossJoin(broadcast(centroidArray(cents)))
      .select(col("qid"), col("qvec"),
        explode(topCentroids(col("qvec"), col("_cents"), nprobe)).as("cid"))
    val scored = probes.join(assigned, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      // multi-assignment / multi-probe can surface a (qid, nid) pair via
      // several lists — score first (identical rounded cos on every
      // duplicate); rankTopK dedups in the heap
      .select(col("qid"), col("nid"),
        graft.functions.Det.r6(GraftFunctions.cosineSim(col("qvec"), col("nvec"))).as("cos"))
    rankTopK(scored, k)
  }

  /** Scale-adaptive IVF: derives the index parameters from the corpus
    * size instead of hard-coding them (the InputSampler lesson —
    * reference `core:mapreduce/lib/partition/InputSampler.java:40-120`
    * scales its sample with the partition count; an index tuned to one
    * corpus size silently rots at the next).
    *
    *  - `nlist = ceil(√N)` — the standard IVF sizing: list length and
    *    list count grow together as √N, so probe cost is O(nprobe·√N)
    *    rather than O(N).
    *  - `nprobe = ceil(probeFrac · nlist)` — probing a FRACTION of the
    *    lists keeps the scan-fraction (and so the recall/cost point)
    *    stable as N grows; a fixed absolute nprobe would silently decay.
    *  - `nassign = 2` — with weakly clustered corpora, a neighbor's top
    *    list is often not the query's; double assignment restores recall
    *    at 2× index size while preserving the √N probe cost.
    *
    * The one driver-side action is a single `count()` of the corpus (an
    * aggregate pushed to the parquet footer — metadata, not a scan).
    *
    * `lloydIters` (default 0) runs distributed Lloyd refinement on the
    * seed before assignment. Measured (DevIvf, sf0.01 + sf0.1): at the
    * default operating point (nassign=2, probeFrac=0.5) recall is
    * already 5/5 min and Lloyd is pure cost; in the CHEAP regimes it
    * buys recall — e.g. sf0.1 nassign=1 nprobe=18: pass 17/20 → 20/20,
    * minHits 2 → 3 with one iteration. Turn it on when trading
    * index-build time for smaller nassign/nprobe at query time.
    */
  def ivfTopKAuto(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, probeFrac: Double = 0.5,
                  seed: Long = 42L, lloydIters: Int = 0): DataFrame = {
    val n = corpus.count()
    val nlist = math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt)
    val nprobe = math.max(1, math.ceil(probeFrac * nlist).toInt)
    ivfTopK(corpus, queries, idCol, vecCol, k, nlist, nprobe, seed,
      nassign = 2, lloydIters = lloydIters)
  }

  /** Persist an IVF index for index-once / query-many service shape:
    * the inverted lists land as a table BUCKETED by centroid id (the
    * same CompositeInputFormat-precondition layout BucketedJoin uses),
    * and the centroids as a small side table. Every later query batch
    * probes with a join that is co-located on `cid` — the corpus is
    * never re-scanned, re-assigned, or re-shuffled per batch; only the
    * (tiny) probe side moves. Parameters follow ivfTopKAuto
    * (nlist=⌈√N⌉, double assignment) unless overridden.
    */
  def ivfBuild(corpus: DataFrame, idCol: String, vecCol: String,
               table: String, nlist: Int = 0, nassign: Int = 2,
               buckets: Int = 8, seed: Long = 42L,
               lloydIters: Int = 0, twoLevel: Boolean = false): Unit = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("nvec"))
    val n = c.count()
    val nl = if (nlist > 0) nlist
             else math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt)
    val seeds = seedCentroids(c, nl, n, seed)
    val cents = if (lloydIters > 0) refineCentroids(c, seeds, lloydIters)
                else seeds
    val assigned = if (twoLevel) assignListsTwoLevel(c, cents, nassign,
                                                     nlist = nl.toLong)
                   else assignLists(c, cents, nassign)
    BucketedJoin.writeBucketed(assigned, table, "cid", buckets)
    BucketedJoin.writeBucketed(cents, s"${table}_cents", "cid", 1)
    // Build-time assignment-quality distribution — the drift reference
    // point for [[ivfAppend]]'s frozen-centroid signal. Computed from
    // the WRITTEN lists (one bucketed scan, O(N·nassign) cosines): the
    // top-1 centroid is always among a vector's assigned set, so the
    // per-vector max over assigned cosines IS its top-1 cosine — a full
    // re-assignment pass (O(N·nlist) cosines, as costly as the build's
    // own assignment) is never paid.
    val buildMean = meanTop1Cos(spark.table(table),
      spark.table(s"${table}_cents"))
    import spark.implicits._
    BucketedJoin.writeBucketed(
      Seq((n, buildMean)).toDF("built_n", "mean_top1_cos"),
      s"${table}_stats", "built_n", 1)
    // fresh index: drop any tombstone set left by a prior index under
    // this name (stale ids would vanish from the new corpus) — cleared
    // AFTER the tables land, so an aborted build can never un-delete
    // docs on the still-standing old index
    Tombstones.clear(spark, table)
  }

  /** Mean top-1-centroid cosine from ASSIGNED list rows
    * (cid, nid, nvec): per-vector max over its assigned centroids'
    * cosines (= the top-1 cosine, which assignment always includes),
    * averaged. NaN on an empty frame.
    */
  private[operators] def meanTop1Cos(assigned: DataFrame, cents: DataFrame): Double = {
    val r = assigned.join(broadcast(cents), Seq("cid"))
      .select(col("nid"),
        GraftFunctions.cosineSim(col("nvec"), col("cvec")).as("c"))
      .groupBy("nid").agg(max("c").as("c"))
      .agg(avg("c")).head()
    if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
  }

  /** What [[ivfAppend]] observed about one absorbed batch vs the
    * build-time distribution: `drifted` fires when the batch's mean
    * top-1 assignment cosine falls more than `driftTol` below the
    * build-time mean — the standing centroids no longer cover the
    * incoming distribution and recall at a fixed probe budget is
    * decaying; run [[ivfRetrain]]. `buildMeanTop1Cos` is NaN for an
    * index built before stats existed (no reference point — never
    * flags).
    */
  final case class IvfAppendStats(batchN: Long, batchMeanTop1Cos: Double,
                                  buildMeanTop1Cos: Double,
                                  drifted: Boolean)

  /** Absorb `batch` into a persisted [[ivfBuild]] index at O(batch)
    * cost: the standing centroids (`<table>_cents`, tiny) ride one
    * broadcast into the same zero-shuffle `ivf_top_cents` assignment
    * pass, and the new inverted-list rows re-bucket into the existing
    * cid layout ([[BucketedJoin.appendBucketed]] — queries stay
    * co-located, no index-side exchange). Centroids are FROZEN, the
    * standard IVF ingest contract: appended vectors quantize against
    * the trained coarse quantizer, and recall decays only if the data
    * distribution drifts from the training corpus.
    *
    * The decay is WATCHED, not hoped away: every append measures the
    * batch's mean top-1 assignment cosine (a one-row aggregate on the
    * batch-sized assignment pass — no corpus scan) against the
    * build-time mean recorded in `<table>_stats`, and the returned
    * [[IvfAppendStats]] flags `drifted` when it falls more than
    * `driftTol` below; the caller's cadence then runs [[ivfRetrain]],
    * with [[BucketedJoin.compactBucketed]] folding append files in
    * between.
    *
    * Id contract: append-only, ids immutable — absorbing an id that is
    * already indexed creates a second list entry for it and later
    * queries rank both copies (admission flows never do this: the dedup
    * check precedes the absorb). See `checkIds` on [[lshIndexAppend]]
    * for the guarded variant on the admission index; the serving index
    * inherits its admission filter.
    */
  def ivfAppend(spark: org.apache.spark.sql.SparkSession, table: String,
                batch: DataFrame, idCol: String, vecCol: String,
                nassign: Int = 2, driftTol: Double = 0.05,
                repair: Boolean = false): IvfAppendStats = {
    GraftFunctions.ensureRegistered(spark)
    val c = batch.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("nvec")).persist()
    try {
      val cents = spark.table(s"${table}_cents")
      val assigned = assignLists(c, cents, nassign)
      // repair: complete a crashed multi-index absorb without
      // duplicating rows that already landed (row-level anti-join,
      // recovery-path only — see minhashIndexAppend)
      val toAppend = if (repair)
        assigned.join(spark.table(table).select("nid", "cid"),
          Seq("nid", "cid"), "left_anti")
      else assigned
      BucketedJoin.appendBucketed(toAppend, table, "cid")
      val batchMean = meanTop1Cos(assigned, cents)
      val buildMean = {
        val ident = org.apache.spark.sql.catalyst.TableIdentifier(s"${table}_stats")
        if (spark.sessionState.catalog.tableExists(ident))
          spark.table(s"${table}_stats").head().getDouble(1)
        else Double.NaN
      }
      val n = c.count()
      IvfAppendStats(n, batchMean, buildMean,
        drifted = !buildMean.isNaN && !batchMean.isNaN &&
          batchMean < buildMean - driftTol)
    } finally c.unpersist()
  }

  /** Re-train a persisted [[ivfBuild]] index from its CURRENT corpus —
    * the cure for [[IvfAppendStats]]`.drifted`: centroids re-seed from
    * everything absorbed so far (so the new coarse quantizer covers the
    * drifted region), nlist re-derives as ⌈√N⌉ of the grown corpus, and
    * every vector re-assigns. O(corpus) — run on the drift signal or a
    * slow cadence, not per batch.
    *
    * The standing lists are the only full copy of the indexed vectors,
    * so the rebuild reads them through a rename-aside
    * (`<table>_retrainsrc`): a crash mid-rebuild leaves either the
    * renamed original (recover by re-running ivfRetrain, or rename it
    * back) or the finished new index — never neither. Bucket count is
    * preserved from the existing table.
    */
  def ivfRetrain(spark: org.apache.spark.sql.SparkSession, table: String,
                 nassign: Int = 2, seed: Long = 42L,
                 lloydIters: Int = 0, twoLevel: Boolean = false): Unit = {
    val cat = spark.sessionState.catalog
    def exists(t: String) =
      cat.tableExists(org.apache.spark.sql.catalyst.TableIdentifier(t))
    val src = s"${table}_retrainsrc"
    // resume a crashed retrain: the corpus lives under the rename-aside
    if (exists(table) && exists(src)) BucketedJoin.dropWithLocation(spark, src)
    if (exists(table)) {
      spark.sql(s"ALTER TABLE $table RENAME TO $src")
    } else require(exists(src),
      s"ivfRetrain: neither $table nor $src exists")
    val buckets = cat.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(src))
      .bucketSpec.map(_.numBuckets).getOrElse(8)
    try {
      // multi-assignment duplicates each nid nassign× — fold back first
      val corpus = spark.table(src).select("nid", "nvec").dropDuplicates("nid")
      ivfBuild(corpus, "nid", "nvec", table, nlist = 0, nassign, buckets,
        seed, lloydIters, twoLevel)
    } catch {
      case t: Throwable =>
        // roll back only when the new index didn't land
        if (!exists(table)) spark.sql(s"ALTER TABLE $src RENAME TO $table")
        throw t
    }
    spark.sql(s"DROP TABLE IF EXISTS $src")
  }

  /** Query a persisted IVF index (see `ivfBuild`): rank each query's
    * `nprobe` nearest centroids from the (broadcast) centroid table,
    * then join the probe set against the bucketed inverted lists —
    * co-located on `cid`, so no index-side shuffle — and rank exact
    * cosine within the probed lists.
    *
    * The probe budget is the recall/cost dial. `probeFrac` scales with
    * nlist (so the setting survives corpus growth — a fixed absolute
    * nprobe silently decays as nlist tracks √N); an explicit `nprobe`
    * overrides it. The default probeFrac = 0.5 (nprobe = ⌈nlist/2⌉) is
    * recall-first: measured at 10⁶ hash-uniform vectors (the IVF
    * worst case, BASELINE.md) it holds perfect recall@5. The measured
    * dial on that corpus: probeFrac 0.25 → 1.7× faster, min 4/5 hits;
    * probeFrac 0.125 → 3.8× faster (1.8× faster than brute force),
    * every query still ≥ 3/5 hits. Clustered (real-embedding) corpora
    * sit higher on the same curve, so 0.125 is the measured
    * throughput operating point and 0.5 the safe default.
    */
  def ivfQuery(spark: org.apache.spark.sql.SparkSession, table: String,
               queries: DataFrame, idCol: String, vecCol: String, k: Int,
               nprobe: Int = 0, probeFrac: Double = 0.5,
               excludeSelf: Boolean = true): DataFrame = {
    require(probeFrac > 0.0 && probeFrac <= 1.0,
      s"probeFrac must be in (0, 1], got $probeFrac")
    GraftFunctions.ensureRegistered(spark)
    val cents = spark.table(s"${table}_cents")
    val np = if (nprobe > 0) nprobe
             else math.max(1, math.ceil(probeFrac * cents.count()).toInt)
    val q = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qvec"))
    val probes = q.crossJoin(broadcast(centroidArray(cents)))
      .select(col("qid"), col("qvec"),
        explode(topCentroids(col("qvec"), col("_cents"), np)).as("cid"))
    // tombstoned docs leave results immediately (broadcast anti-join
    // over the list scan); the physical rows go at the next fold
    val lists = Tombstones.filterOut(spark, table, spark.table(table), "nid")
    val scored = probes.join(lists, Seq("cid"))
      // excludeSelf drops a query's own indexed row (the corpus-as-
      // queries ANN idiom); pass false when the SAME id legitimately
      // sits on both sides — e.g. a refresh loop checking whether a
      // resubmitted id duplicates its standing indexed content
      .filter(if (excludeSelf) col("qid") =!= col("nid") else lit(true))
      // score first: cos is deterministic per (qid, nid), so the agg
      // input moves 24-byte rows, not vector pairs; rankTopK holds O(k)
      // state per query (the window form sorted every scored candidate
      // — ~5·10⁸ rows at 10⁷ corpus — and was the 1e7 query wall)
      .select(col("qid"), col("nid"),
        graft.functions.Det.r6(GraftFunctions.cosineSim(col("qvec"), col("nvec"))).as("cos"))
    rankTopK(scored, k)
  }

  /** Bounded merge of per-shard top-k candidate lists — the vector
    * twin of [[Retrieval.bm25ShardedQuery]]'s rank merge. Each leg is
    * a `(qid, nid, cos, …)` per-shard top-k (rank ≥ k within its own
    * shard); the union carries only Σ legs · k · |queries| tiny rows,
    * never corpus mass, and [[rankTopK]] re-ranks under the identical
    * (cos desc, nid asc) total order. EXACT when the legs are exact
    * per-shard top-k over a doc-disjoint partition: each global top-k
    * winner is inside its own shard's top-k, so the union contains
    * every winner (the classic distributed top-k argument); ties
    * resolve identically because the comparator is the same. A single
    * leg is already a [[rankTopK]] output at this k, so it returns
    * unchanged: the one-shard family keeps the single-index plan and
    * leaves the session's union conf alone. */
  private[graft] def mergeShardTopK(legs: Seq[DataFrame], k: Int): DataFrame =
    if (legs.size == 1) legs.head
    else {
      GraftFunctions.unionGuard(legs.head.sparkSession)
      rankTopK(
        legs.map(_.select(col("qid"), col("nid"), col("cos")))
          .reduce(_.unionByName(_)), k)
    }

  /** Exact cosine top-k over a DOC-DISJOINT sharded corpus — the
    * brute-force leg for embedding sets too large for one table/box
    * (the 10⁸-vector twin of the round-15 sharded BM25 layout; the
    * same argument applies: per-shard cost is the single-corpus plan
    * verbatim, a cluster pays max over shards + a k·|queries|-row
    * merge). Results are EXACTLY [[bruteForceTopK]] over the union of
    * the shards (oracle-gated at sim12): cosine depends only on the
    * (query, vector) pair, each shard emits its exact local top-k, and
    * [[mergeShardTopK]]'s bounded merge keeps the global winners. */
  def bruteForceShardedTopK(shards: Seq[DataFrame], queries: DataFrame,
                            idCol: String, vecCol: String, k: Int)
      : DataFrame = {
    require(shards.nonEmpty, "bruteForceShardedTopK needs at least one shard")
    mergeShardTopK(
      shards.map(bruteForceTopK(_, queries, idCol, vecCol, k)), k)
  }

  /** [[ivfQuery]] over doc-disjoint shard indexes — per-shard probes
    * (each shard ranks its OWN ⌈probeFrac·nlist⌉ centroids: the probe
    * dial is per shard, so recall behaves like the single-index curve
    * on every shard independently), per-shard tombstone filtering,
    * bounded top-k merge. At probeFrac = 1.0 every shard's list is its
    * exact local top-k and the merge is EXACTLY the whole-corpus brute
    * force (SimilaritySpec pins this); at operating probeFrac the
    * result is the natural sharded-ANN semantics — the union of
    * per-shard approximate lists, re-ranked (recall-gated at sim13).
    */
  def ivfShardedQuery(spark: org.apache.spark.sql.SparkSession,
                      tables: Seq[String], queries: DataFrame,
                      idCol: String, vecCol: String, k: Int,
                      nprobe: Int = 0, probeFrac: Double = 0.5,
                      excludeSelf: Boolean = true): DataFrame = {
    require(tables.nonEmpty, "ivfShardedQuery needs at least one shard")
    mergeShardTopK(
      tables.map(ivfQuery(spark, _, queries, idCol, vecCol, k,
        nprobe = nprobe, probeFrac = probeFrac,
        excludeSelf = excludeSelf)), k)
  }

  /** Grow one IVF shard into two doc-disjoint children under the
    * hierarchical router ([[Sharding.staysInFirstChild]]) through the
    * one reshard protocol and its crash contract ([[Sharding]]). The
    * inverted-list rows rehash by `nid` into the children; both
    * children REUSE the parent's coarse quantizer (`_cents` copied
    * verbatim — the frozen-quantizer contract [[ivfAppend]] already
    * proves) and inherit its `_stats` drift reference, so the standing
    * drift watch keeps firing against the same baseline and the
    * eventual cure is the usual per-child [[ivfRetrain]]. Cost
    * O(parent shard); other shards untouched.
    *
    * EXACT at any probe setting: a query against the family with the
    * parent replaced by its children probes the SAME centroid set per
    * child, every vector keeps its list membership, and the bounded
    * merge re-ranks under the identical order — so
    * [[ivfShardedQuery]] post-split ≡ pre-split row for row (not just
    * at probeFrac = 1.0; spec-pinned). Tombstoned parent rows are
    * dropped during the rehash (children are born clean). A parent
    * mid-[[ivfRetrain]] (live `_retrainsrc`) is rejected loudly —
    * finish or heal the retrain first.
    */
  def splitShard(spark: org.apache.spark.sql.SparkSession, parent: String,
                 child0: String, child1: String,
                 shardIndex: Int = 0, nShards: Int = 1): Unit =
    splitShardImpl(spark, parent, child0, child1, shardIndex, nShards,
      failAt = -1)

  /** [[splitShard]] with the [[Retrieval.InjectedSplitCrash]] seam. */
  private[graft] def splitShardImpl(spark: org.apache.spark.sql.SparkSession,
                                    parent: String, child0: String,
                                    child1: String, shardIndex: Int,
                                    nShards: Int, failAt: Int): Unit =
    Sharding.split(spark, ivfReshard, parent, child0, child1, shardIndex,
      nShards, failAt)

  /** Persisted LSH bucket index — the EMBEDDING twin of the MinHash
    * band index (`Dedup.minhashIndexBuild`), and the scalable
    * dedup-ADMISSION path for vectors: checking a batch against an IVF
    * index costs O(batch · probeFrac · corpus) per the IVF cost model
    * (each query scans its probed lists, which grow with N — measured:
    * 230 s for a 4000-vector batch at 2e5 corpus, probeFrac 0.5), while
    * the bucket join here touches only colliding candidates —
    * O(batch + collisions), FLAT as the corpus grows, exactly like the
    * minhash path. IVF remains the right structure for QUERY serving
    * (small query sets, the probeFrac recall dial); this is the right
    * one for admission control.
    *
    * Layout (BucketedJoin tables, mirroring minhash):
    *  - `<table>_vecs` (id, vec) bucketed by id — candidate
    *    verification joins land co-located;
    *  - `<table>_buckets` (id, bkey) bucketed by bkey, where bkey folds
    *    (table index, bucket sig) into one 64-bit key — batch bucket
    *    rows shuffle TO the index layout, the index never moves. A
    *    cross-table key collision only adds a candidate that cosine
    *    verification discards (~2⁻⁶⁴ rate).
    * `nBits`/`nTables`/`seed` are part of the index contract: pass the
    * same values to check/append (the nBits ≈ log2(N) sizing rule of
    * the blocked self-join applies — see BASELINE.md).
    */
  def lshIndexBuild(vecs: DataFrame, idCol: String, vecCol: String,
                    table: String, nBits: Int = 16, nTables: Int = 8,
                    seed: Long = 42L, buckets: Int = 8): Unit = {
    GraftFunctions.ensureRegistered(vecs.sparkSession)
    val v = vecs.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    BucketedJoin.writeBucketed(v, s"${table}_vecs", "id", buckets)
    val b = vecs.sparkSession.table(s"${table}_vecs")
      .select(col("id"),
        posexplode(GraftFunctions.lshSigs(col("vec"), nBits, nTables, seed)))
      .select(col("id"), xxhash64(col("pos"), col("col")).as("bkey"))
    BucketedJoin.writeBucketed(b, s"${table}_buckets", "bkey", buckets)
    // fresh index: drop any tombstone set left by a prior index under
    // this name (stale ids would vanish from the new corpus) — cleared
    // AFTER the tables land, so an aborted build can never un-delete
    // docs on the still-standing old index
    Tombstones.clear(vecs.sparkSession, table)
  }

  /** Check `batch` against a standing [[lshIndexBuild]] index: returns
    * (batch_id, corpus_id, cos) for every batch vector sharing an LSH
    * bucket with an indexed vector at cosine ≥ `threshold`. Only the
    * batch is hashed; both index joins are co-located with the bucketed
    * tables (candidates on bkey, verification on id). No self-filter:
    * a resubmitted id matches its own indexed row, like the minhash
    * twin.
    */
  def lshDedupAgainst(spark: org.apache.spark.sql.SparkSession,
                      table: String, batch: DataFrame,
                      idCol: String, vecCol: String,
                      threshold: Double = 0.999, nBits: Int = 16,
                      nTables: Int = 8, seed: Long = 42L): DataFrame =
    lshDedupAgainstSharded(spark, Seq(table), batch, idCol, vecCol,
      threshold, nBits, nTables, seed)

  /** [[lshDedupAgainst]] over a VEC-DISJOINT family of S ≥ 1 admission
    * shard indexes (a single index is the one-shard family) — the
    * vector twin of [[Dedup.minhashDedupAgainstSharded]]: the batch
    * hashes once, each shard's check is the single-index plan verbatim,
    * and the union is exact (corpus ids disjoint across shards — no
    * pair twice). The layout when the LSH admission index outgrows one
    * table. */
  def lshDedupAgainstSharded(spark: org.apache.spark.sql.SparkSession,
                             tables: Seq[String], batch: DataFrame,
                             idCol: String, vecCol: String,
                             threshold: Double = 0.999, nBits: Int = 16,
                             nTables: Int = 8,
                             seed: Long = 42L): DataFrame = {
    require(tables.nonEmpty, "lshDedupAgainstSharded needs at least one shard")
    GraftFunctions.ensureRegistered(spark)
    if (tables.size > 1) GraftFunctions.unionGuard(spark)
    val (bv, bb) = batchLshFrames(batch, idCol, vecCol, nBits, nTables,
      seed)
    tables.map(lshCheckShard(spark, _, bv, bb, threshold))
      .reduce(_.unionByName(_))
  }

  /** The batch's vector and bucket frames: one id-partitioned
    * exchange for the batch vectors, reused by the bucket arm and the
    * verification re-join of every shard. */
  private def batchLshFrames(batch: DataFrame, idCol: String,
                             vecCol: String, nBits: Int, nTables: Int,
                             seed: Long): (DataFrame, DataFrame) = {
    val bv = batch.select(col(idCol).as("bid"),
        col(vecCol).cast("array<double>").as("bvec"))
      .repartition(col("bid"))
    val bb = bv.select(col("bid"),
        posexplode(GraftFunctions.lshSigs(col("bvec"), nBits, nTables, seed)))
      .select(col("bid"), xxhash64(col("pos"), col("col")).as("bkey"))
    (bv, bb)
  }

  /** One admission shard's check body (see [[lshDedupAgainst]]). */
  private def lshCheckShard(spark: org.apache.spark.sql.SparkSession,
                            table: String, bv: DataFrame, bb: DataFrame,
                            threshold: Double): DataFrame = {
    // tombstoned corpus ids stop matching immediately (broadcast
    // anti-join over the bucket scan — no new exchange)
    val bucketRows = Tombstones.filterOut(spark, table,
      spark.table(s"${table}_buckets"), "id")
    val cand = bb.join(bucketRows, "bkey")
      .select(col("bid"), col("id").as("cid"))
      .dropDuplicates("bid", "cid")
    cand.join(spark.table(s"${table}_vecs"), col("cid") === col("id"))
      .join(bv, "bid")
      .select(col("bid").as("batch_id"), col("cid").as("corpus_id"),
        graft.functions.Det.r6(GraftFunctions.cosineSim(col("bvec"), col("vec"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Grow one LSH ADMISSION shard into two vec-disjoint children — the
    * [[Dedup.splitShard]] contract for the vector admission family:
    * `_vecs`/`_buckets` rows rehash by id under the hierarchical
    * router, tombstones fold first, and
    * [[lshDedupAgainstSharded]] over the post-split family finds
    * exactly the pre-split pairs. The one reshard protocol
    * ([[Sharding]]).
    */
  def splitLshShard(spark: org.apache.spark.sql.SparkSession,
                    parent: String, child0: String, child1: String,
                    shardIndex: Int = 0, nShards: Int = 1): Unit =
    splitLshShardImpl(spark, parent, child0, child1, shardIndex, nShards,
      failAt = -1)

  /** [[splitLshShard]] with the [[Retrieval.InjectedSplitCrash]] seam. */
  private[graft] def splitLshShardImpl(
      spark: org.apache.spark.sql.SparkSession, parent: String,
      child0: String, child1: String, shardIndex: Int, nShards: Int,
      failAt: Int): Unit =
    Sharding.split(spark, lshReshard, parent, child0, child1, shardIndex,
      nShards, failAt)

  /** The inverse of [[splitLshShard]] — fold two vec-disjoint LSH
    * admission shards into one: tombstones fold first, then the
    * merged `_vecs`/`_buckets` are the row unions rebucketed
    * (per-vector facts; the same signatures hash to the same bucket
    * keys, so the sharded check over the merged family is identical).
    */
  def mergeLshShards(spark: org.apache.spark.sql.SparkSession,
                     parent0: String, parent1: String,
                     merged: String): Unit =
    mergeLshShardsImpl(spark, parent0, parent1, merged, failAt = -1)

  /** [[mergeLshShards]] with the [[Retrieval.InjectedSplitCrash]] seam. */
  private[graft] def mergeLshShardsImpl(
      spark: org.apache.spark.sql.SparkSession, parent0: String,
      parent1: String, merged: String, failAt: Int): Unit =
    Sharding.merge(spark, lshReshard, parent0, parent1, merged, failAt)

  /** Merge two IVF shards by RETRAINING on the union — the honest form
    * for the quantized family: the parents' centroid families differ,
    * so a row union would mix incompatible coarse spaces; instead the
    * parents' (deduplicated) vectors union and [[ivfBuild]] trains the
    * merged index whole at its defaults (nlist re-derives as ⌈√(2N)⌉,
    * fresh drift reference). O(merged corpus) — a maintenance-cadence
    * operation, like [[ivfRetrain]]. Tombstoned rows drop in the union.
    */
  def mergeIvfShards(spark: org.apache.spark.sql.SparkSession,
                     parent0: String, parent1: String, merged: String): Unit =
    mergeIvfShardsImpl(spark, parent0, parent1, merged, failAt = -1)

  /** [[mergeIvfShards]] with the [[Retrieval.InjectedSplitCrash]] seam. */
  private[graft] def mergeIvfShardsImpl(
      spark: org.apache.spark.sql.SparkSession, parent0: String,
      parent1: String, merged: String, failAt: Int): Unit =
    Sharding.merge(spark, ivfReshard, parent0, parent1, merged, failAt)

  /** The IVF family's reshard layout: list rows split by `nid`, the
    * quantizer and drift reference copy; a merge retrains on the
    * union ([[mergeIvfShards]]). */
  private[graft] object ivfReshard extends Sharding.Family("", Seq(
      Sharding.Part("", "cid", Sharding.Rows("nid")),
      Sharding.Part("_cents", "cid", Sharding.Copy),
      Sharding.Part("_stats", "built_n", Sharding.Copy))) {
    override def prepare(spark: org.apache.spark.sql.SparkSession,
                         table: String): Unit =
      require(!Sharding.exists(spark, s"${table}_retrainsrc"),
        s"$table has a live retrain rename-aside (${table}_retrainsrc) " +
          "— finish or heal the retrain first")
    override def buildMerged(spark: org.apache.spark.sql.SparkSession,
                             parents: Seq[String], merged: String,
                             buckets: Int): Unit =
      ivfBuild(parents.map { p =>
          Tombstones.filterOut(spark, p, spark.table(p), "nid")
            .select("nid", "nvec").dropDuplicates("nid")
        }.reduce(_.unionByName(_)),
        "nid", "nvec", merged, buckets = buckets)
  }

  /** The LSH admission family's reshard layout: both tables are
    * per-vector rows; tombstones fold before a split or merge. */
  private[graft] object lshReshard extends Sharding.Family("_vecs", Seq(
      Sharding.Part("_vecs", "id", Sharding.Rows("id")),
      Sharding.Part("_buckets", "bkey", Sharding.Rows("id")))) {
    override def prepare(spark: org.apache.spark.sql.SparkSession,
                         table: String): Unit =
      lshFoldTombstones(spark, table)
  }

  /** Absorb `batch` into a standing [[lshIndexBuild]] index at O(batch)
    * cost (the dd6 pattern for vectors): only the batch is hashed, both
    * appends re-bucket into the existing layouts
    * ([[BucketedJoin.appendBucketed]]). Run
    * [[BucketedJoin.compactBucketed]] on a slow cadence.
    *
    * Id contract: append-only, ids immutable. Re-appending an id —
    * legitimate resubmission or changed content — leaves TWO index rows
    * under that id and later [[lshDedupAgainst]] calls report both;
    * there is no supersede path. Admission flows never hit this (the
    * dup check precedes the absorb, and a resubmitted id matches its
    * own indexed row), so the guard is opt-in: `checkIds = true` fails
    * the append loudly when an incoming id is already indexed. The
    * check is an id-only semi-join against `<table>_vecs` — it SCANS
    * the index id column (O(index) per append, cheap columnar read but
    * not batch-bounded), so it is a direct-API safety net, not an
    * ingest-path default.
    */
  def lshIndexAppend(spark: org.apache.spark.sql.SparkSession,
                     table: String, batch: DataFrame,
                     idCol: String, vecCol: String,
                     nBits: Int = 16, nTables: Int = 8,
                     seed: Long = 42L, checkIds: Boolean = false,
                     repair: Boolean = false): Unit = {
    GraftFunctions.ensureRegistered(spark)
    val v = batch.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec")).persist()
    try {
      if (checkIds) failOnIndexedIds(spark, s"${table}_vecs", v, "lshIndexAppend")
      // see minhashIndexAppend: row-level anti-join on the
      // crash-recovery replay, so a partially-landed append completes
      // instead of duplicating
      def missing(df: DataFrame, t: String, keys: Seq[String]): DataFrame =
        if (repair) df.join(spark.table(t).select(keys.map(col): _*),
          keys, "left_anti")
        else df
      BucketedJoin.appendBucketed(missing(v, s"${table}_vecs", Seq("id")),
        s"${table}_vecs", "id")
      val b = v.select(col("id"),
          posexplode(GraftFunctions.lshSigs(col("vec"), nBits, nTables, seed)))
        .select(col("id"), xxhash64(col("pos"), col("col")).as("bkey"))
      BucketedJoin.appendBucketed(missing(b, s"${table}_buckets", Seq("id", "bkey")),
        s"${table}_buckets", "bkey")
    } finally v.unpersist()
  }

  /** Physically fold [[Tombstones]] into an [[lshIndexBuild]] index:
    * vectors and bucket rows rewritten without the tombstoned ids
    * (crash-safe swap per table, idempotent), set cleared after.
    */
  def lshFoldTombstones(spark: org.apache.spark.sql.SparkSession,
                        table: String): Unit =
    Tombstones.fold(spark, table, Seq(
      (s"${table}_vecs", "id", "id"), (s"${table}_buckets", "id", "bkey")))

  /** Physically fold [[Tombstones]] into an [[ivfBuild]] index. The
    * `_stats` build reference keeps its build-time value — it is a
    * drift anchor, not a row count.
    */
  def ivfFoldTombstones(spark: org.apache.spark.sql.SparkSession,
                        table: String): Unit =
    Tombstones.fold(spark, table, Seq((table, "nid", "cid")))

  /** Fail an append whose batch carries ids already present in the
    * id-bucketed side table — the `checkIds` guard shared by the
    * admission-index appends (see the contract note on
    * [[lshIndexAppend]]).
    */
  private[operators] def failOnIndexedIds(
      spark: org.apache.spark.sql.SparkSession, vecsTable: String,
      batch: DataFrame, op: String): Unit = {
    val clash = batch.select("id")
      .join(spark.table(vecsTable).select("id"), Seq("id"), "left_semi")
      .limit(5).collect().map(_.get(0))
    if (clash.nonEmpty)
      throw new IllegalArgumentException(
        s"$op: batch re-appends ids already in $vecsTable " +
          s"(sample: ${clash.mkString(", ")}) — index ids are immutable; " +
          "dedup-check the batch first, or build a fresh index to replace " +
          "changed content")
  }

  /** Embedding-cosine near-duplicate pairs (ida < idb, cos ≥ threshold)
    * over a self-comparison, LSH-BLOCKED: candidates are pairs sharing at
    * least one random-hyperplane bucket (the same `lshSigs` signatures the
    * ANN path uses); exact cosine runs only on candidates. Never all-pairs
    * — the candidate count is bounded by bucket collisions, so the join is
    * a bucket-partitioned equi-join, not an O(N²) theta join.
    *
    * Recall: a pair at angle θ collides in one nBits-bit table with
    * p = (1−θ/π)^nBits, across nTables independent tables
    * P = 1−(1−p)^nTables. For genuine near-duplicates (cos → 1, θ → 0)
    * P → 1 — e.g. cos ≥ 0.95 with the defaults gives P > 0.998; exact
    * duplicates share every bucket by construction. Verification of the
    * blocked path against the brute-force pair set lives in
    * SimilaritySpec (the brute force is deliberately NOT a library
    * operator — at corpus scale its naive use is catastrophic).
    *
    * NEAR-dup contract: `threshold ≥ 0.8`, enforced. The exact-rescore
    * stage broadcasts the survivor pair list (everything the sound
    * upper-bound filter keeps), which is survivor-sized — near 1 that
    * is ≈ the true near-dup pairs, but at loose thresholds it
    * approaches the full candidate set and would blow the broadcast.
    * For similarity SEARCH at loose thresholds use lshTopK/ivfQuery,
    * whose ranking is bounded by k per query.
    */
  def cosineNearDupPairsBlocked(vecs: DataFrame, idCol: String, vecCol: String,
                                threshold: Double, nBits: Int = 8,
                                nTables: Int = 8, seed: Long = 42L): DataFrame = {
    require(threshold >= 0.8,
      s"cosineNearDupPairsBlocked is a NEAR-duplicate operator (threshold >= 0.8, " +
        s"got $threshold): its exact-rescore stage broadcasts the survivor pair " +
        "set, which is only bounded when the threshold is high. For loose-" +
        "threshold similarity search use lshTopK or ivfQuery.")
    GraftFunctions.ensureRegistered(vecs.sparkSession)
    val v = vecs.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    // Candidate generation is NARROW: band rows carry (id, table, sig)
    // only — 24 bytes — through the (table, sig)-partitioned exchange
    // (reused by both sides of the bucket self-join) and the candidate
    // distinct. (The first formulation carried both vectors on every
    // candidate row; DevSimScale measured that as a ~70 GB spill at
    // 10⁶ vectors — the candidate count is fine, the row WIDTH was
    // the killer.)
    val banded = v.select(col("id"),
        posexplode(GraftFunctions.lshSigs(col("vec"), nBits, nTables, seed)))
      .withColumnRenamed("pos", "table").withColumnRenamed("col", "sig")
      .repartition(col("table"), col("sig"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.table") === col("b.table") && col("a.sig") === col("b.sig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"))
      .dropDuplicates("ida", "idb")
    // Scoring is TWO-STAGE (quantize → refine → exact rescore), because
    // even id-only candidate rows must eventually meet both vectors, and
    // attaching a raw dim-64 vector to every candidate made the by-idb
    // exchange the new wall: DevSimScale measured it at 45 GB of shuffle
    // write for ~8·10⁷ candidates at 10⁷ vectors — the single largest
    // stage of the whole probe by 9×. Candidates instead carry the
    // dim+24-byte int8 sketch (~6× narrower here, ~30× at dim 768), are
    // filtered by qcosUpper — a SOUND upper bound on cosine, so no true
    // pair is ever dropped — and only the survivors (≈ the true near-dup
    // pairs, vanishingly few by the time threshold is near 1) meet the
    // raw vectors again, via broadcast joins that never exchange the
    // corpus. The final cosine is computed by the same expression as
    // before, so results are bit-identical to the one-stage form.
    // shuffle_hash on the sketch side: the sort-merge form sorts the
    // candidate stream twice (2×11 GB of spill at 10⁷ — the residual
    // disk cost after narrowing the rows); hashing the per-partition
    // sketch slice (~30 MB at 10⁷/32) streams candidates sort-free
    val vq = v.select(col("id"), GraftFunctions.quantizeVec(col("vec")).as("qv"))
      .hint("shuffle_hash")
    val surv = cand
      .join(vq.select(col("id").as("ida"), col("qv").as("qa")), "ida")
      .join(vq.select(col("id").as("idb"), col("qv").as("qb")), "idb")
      .filter(GraftFunctions.qcosUpper(col("qa"), col("qb")) >= threshold)
      .select("ida", "idb")
    // Gather each side's vector by broadcasting the narrow survivor pair
    // list against a plain corpus scan (no corpus exchange, no wide
    // broadcast); the two gathered sides are survivor-sized, so their
    // final equi-join is trivial. Identical broadcast subplans are
    // deduplicated by ReuseExchange.
    val ga = v.select(col("id").as("ida"), col("vec").as("va"))
      .join(broadcast(surv), "ida")
    val gb = v.select(col("id").as("idb"), col("vec").as("vb"))
      .join(broadcast(surv), "idb")
    ga.join(gb, Seq("ida", "idb"))
      .select(col("ida"), col("idb"),
        graft.functions.Det.r6(GraftFunctions.cosineSim(col("va"), col("vb"))).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
