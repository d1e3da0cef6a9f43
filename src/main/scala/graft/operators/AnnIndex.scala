package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ANN quantizer machinery + the persisted index build/query lifecycle.
  *
  * Index state outlives the query — the analog of the reference's extent
  * map, where scan-pruning metadata is a persistent artifact maintained
  * across statements, not a query-time subtree (reference:
  * versioning/BRM/extentmap.h:116 — EMEntry partition/segment state).
  * `build` trains the coarse quantizer and the product-quantizer
  * codebooks ONCE and persists four parquet artifacts:
  *
  *   coarse_centroids (cid, centroid)   k×64 floats — the probe table
  *   coarse_assign    (vec_id, cid)     the inverted-list assignment
  *   pq_codebook      (ss, cid, cen)    m×k×sub floats — the ADC table
  *   pq_codes         (vec_id, ss, cid) m small ints/vector — 8-byte codes
  *
  * `ivfPqQuery` then composes a pure read-side plan: probe pruning from
  * the broadcast centroids, candidate lists from the assignment, ADC
  * scoring from codes × broadcast query distance table — NO k-means
  * subtree, no corpus re-scan beyond the candidate re-join (pinned in
  * PlanSpec). At 100 TB the build is an offline job writing the same
  * artifacts to the warehouse; the query side is sub-second because its
  * only large input is nprobe/k of the code table.
  *
  * Training materializes intermediate state to scratch parquet (write +
  * read-back) instead of `persist()`: multi-consumer subtrees still run
  * the k-means lineage once, but the Spark block-manager cache stays
  * empty — a library caller composing many ANN queries in one session
  * accumulates nothing (asserted in VectorTextSpec).
  */
object AnnIndex {
  // fixed index parameters — shared by the composed in-line queries, the
  // persisted index, and every DuckDB oracle replay
  val K = 16        // coarse clusters
  val NPROBE = 4
  val M = 16        // PQ subspaces
  val SUB = 4       // dims per subspace
  val KPQ = 16      // codes per subspace
  val ITERS = 2     // Lloyd iterations (both quantizers)

  // per-process scratch root (pid-suffixed so concurrent JVMs can't wipe
  // each other's artifacts). -Dgraft.ann.scratch overrides it with a
  // caller-managed SHARED root — how the two-JVM maintenance contention
  // test points a child mutator at the parent's index (a production
  // deployment would root this on the shared filesystem anyway; the
  // maint-lock protocol is already cross-process).
  private lazy val scratchRoot: java.nio.file.Path = {
    val p = sys.props.get("graft.ann.scratch") match {
      case Some(shared) => java.nio.file.Paths.get(shared)
      case None =>
        val d = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"),
          s"graft_ann_index_${ProcessHandle.current().pid()}")
        d.toFile.deleteOnExit() // own it: best-effort cleanup on exit
        d
    }
    java.nio.file.Files.createDirectories(p)
    p
  }

  /** This process's resolved scratch root — what a cooperating child
    * JVM passes as -Dgraft.ann.scratch to share the same index dirs. */
  private[graft] def scratchRootPath: String = scratchRoot.toString

  /** Per-corpus artifact directory — keyed by the data dir so one JVM can
    * hold indexes for several corpora (Verify sf0.01, Bench sf0.1, the 8×
    * scaling corpus) without collision. */
  def indexDir(dir: String): String =
    scratchRoot.resolve(dir.replaceAll("[^A-Za-z0-9._-]", "_")).toString

  def centroidsPath(dir: String): String = s"${indexDir(dir)}/coarse_centroids"
  def assignPath(dir: String): String = s"${indexDir(dir)}/coarse_assign"
  def codebookPath(dir: String): String = s"${indexDir(dir)}/pq_codebook"
  def codesPath(dir: String): String = s"${indexDir(dir)}/pq_codes"
  def resCodebookPath(dir: String): String =
    s"${indexDir(dir)}/respq_codebook"
  def resCodesPath(dir: String): String = s"${indexDir(dir)}/respq_codes"
  private def marker(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(indexDir(dir), "_GRAFT_INDEX_OK")

  /** Artifact-layout version stamped INTO the marker. Bumped whenever
    * build() gains a new artifact (v2 = the r7 respq codebook/codes) OR
    * changes how an artifact's bytes are produced (v3 = the r8 training
    * restructure: per-round barriers + codebook aggregated from the
    * final round's state instead of a codes⋈subs re-join — float-rounded
    * identically, but a layout epoch costs nothing and removes the
    * doubt), so an index dir built by an older layout reads as absent
    * and rebuilds instead of passing ensureBuilt with artifacts missing
    * — the exact failure an unversioned "ok" marker allowed. */
  private val IndexVersion = "v3"

  /** Materialize a deterministic intermediate: write parquet, read back.
    * Truncates lineage and shares the computation across consumers via
    * files — never the block-manager cache. */
  private[operators] def materialize(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Scratch path for the composed in-line queries' per-construction
    * training state (forced retrain each call — their e2e timing is the
    * train+query composition, unlike the prebuilt index path). */
  private[operators] def inlineScratch(dir: String, tag: String): String =
    s"${indexDir(dir)}/inline_$tag"

  // ---- coarse (IVF) quantizer ------------------------------------------

  /** Float-rounded centroids of a coarse assignment (two-phase agg — only
    * k×64 per-dim partial sums shuffle, never the vectors). */
  private[operators] def coarseCentroids(base: DataFrame,
      assign: DataFrame): DataFrame =
    assign.join(base, Seq("vec_id"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        array((0 until 64).map(i =>
          sum(col("embedding").getItem(i))).toIndexedSeq: _*)
          .as("sum_vec"))
      .select(col("cid"),
        expr("transform(sum_vec, v -> float(v / n))")
          .cast("array<float>").as("centroid"))

  /** Reassignment = pure per-row map: the centroid table broadcasts as
    * one cid-sorted array and the argmax folds over it (>= replaces on
    * ties while iterating in ascending cid order → ties land on the
    * LARGER cid, the same rule as max(struct(ccos, cid))). The three
    * inline folds mirror VectorKernels.cosine's accumulation chains
    * (dot, normA, normB each its own fold), so results are bit-identical
    * to a cosineSim + groupBy-argmax plan — but no (vec_id, ccos, cid)
    * tuples ever shuffle per iteration. */
  private[operators] def coarseReassign(base: DataFrame,
      cents: DataFrame): DataFrame = {
    val carr = cents.groupBy()
      .agg(sort_array(collect_list(struct(col("cid"), col("centroid"))))
        .as("carr"))
    // r15: the argmax fold moved from an interpreted SQL
    // aggregate/transform/zip_with chain (higher-order functions don't
    // codegen — every Lloyd round paid boxed lambda evaluation per
    // (vector × centroid × dim)) into the codegen'd ARGMAX_COSINE
    // kernel. Accumulation order, `>=`-keeps-the-larger-cid tie rule,
    // and Spark's nan-safe double compare are reproduced exactly
    // (VectorKernels.argmaxCosine), so assignments are bit-identical —
    // oracle-verified across the ANN suite.
    base.crossJoin(broadcast(carr))
      .withColumn("cid", graft.functions.VectorFunctions.argmaxCosine(
        col("embedding"), col("carr")))
      .select(col("vec_id"), col("cid"))
  }

  /** Deterministic-init coarse k-means (fingerprint64(vec_id) mod k — no
    * driver-side sampling, no global sort, identical at any corpus size,
    * and replayable by the DuckDB oracle), `iters` Lloyd rounds. The
    * final (vec_id, cid) assignment materializes to `dest`: it feeds
    * several subtrees (final centroids, probes, candidate lists), so the
    * k-means lineage runs once, with no block-manager cache entry. */
  private[operators] def coarseTrainTo(base: DataFrame, k: Int, iters: Int,
      dest: String): DataFrame = {
    var assign = base.select(col("vec_id"),
      pmod(graft.functions.HashFunctions.fingerprint64(
        col("vec_id").cast("string")), lit(k.toLong))
        .cast("int").as("cid"))
    // barrier each Lloyd round's (vec_id, cid) — ids only, never
    // vectors: without it iteration i's centroid aggregation re-executes
    // iteration i-1's whole reassign lineage (the recursion multiplies
    // the corpus scans per extra iteration; measured ~25% of the sf0.1
    // index build)
    for (_ <- 1 to iters)
      assign = graft.sources.Checkpoints.barrier(
        coarseReassign(base, coarseCentroids(base, assign)))
    materialize(assign, dest)
  }

  /** Per-query top-nprobe coarse centroids (ties to smaller cid). */
  private[operators] def coarseProbes(queries: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame = {
    val wp = Window.partitionBy(col("q_id"))
      .orderBy(col("qcos").desc, col("cid"))
    queries.crossJoin(broadcast(cents))
      .select(col("q_id"), col("cid"),
        graft.functions.VectorFunctions.cosineSim(
          col("q_emb"), col("centroid")).as("qcos"))
      .withColumn("rk", row_number().over(wp))
      .filter(col("rk") <= nprobe)
      .select(col("q_id"), col("cid"))
  }

  // ---- product quantizer -----------------------------------------------

  /** Ordered-fold squared L2 between two array columns. r16: interpreted
    * `aggregate(zip_with(…))` → codegen'd L2_SQ kernel (same accumulation
    * order and double-widening — see VectorKernels.l2sqDD/DF; the SQ8
    * scoring pass runs this per (query, vector) pair and higher-order
    * functions never enter WholeStageCodegen). */
  private[operators] def l2sqExpr(a: String, b: String) =
    graft.functions.VectorFunctions.l2Sq(col(a), col(b))

  /** L2-normalized embeddings (vec_id, nemb) — the one normalization
    * every PQ / residual path composes (a future tweak, e.g. a zero-norm
    * epsilon, lands in exactly one place, preserving the bit-identical
    * composed-vs-indexed invariant the tests pin). r16: the interpreted
    * sqrt(aggregate(…)) + transform(…/nrm) pair → codegen'd NORMALIZE_L2
    * (bit-identical fold order; see VectorKernels.normalizeL2). */
  private[operators] def normalizedEmb(base: DataFrame): DataFrame =
    base.select(col("vec_id"),
      graft.functions.VectorFunctions.normalizeL2(col("embedding"))
        .as("nemb"))

  /** L2-normalized subvectors (vec_id, ss, svec): on unit vectors
    * squared-L2 = 2 − 2·cos, so PQ's ADC ranking is rank-equivalent to
    * the cosine brute baseline (raw L2 would rank by norm as much as by
    * direction). */
  private[operators] def pqSubs(base: DataFrame, m: Int,
      sub: Int): DataFrame =
    normalizedEmb(base)
      .select(col("vec_id"),
        posexplode(array((0 until m).map(j =>
          expr(s"slice(nemb, ${j * sub + 1}, $sub)")): _*)))
      .withColumnRenamed("pos", "ss")
      .withColumnRenamed("col", "svec")

  /** Per-subspace float-rounded codebook (two-phase agg — the map side
    * collapses each partition to m×k per-dim partial sums). Input needs
    * (vec_id, ss, svec, cid). */
  private[operators] def pqCodebookOf(assign: DataFrame,
      sub: Int): DataFrame =
    assign
      .groupBy(col("ss"), col("cid"))
      .agg(count(lit(1)).as("n"),
        array((0 until sub).map(i =>
          sum(col("svec").getItem(i))).toIndexedSeq: _*).as("sum_vec"))
      .select(col("ss"), col("cid"),
        expr("transform(sum_vec, v -> float(v / n))")
          .cast("array<float>").as("cen"))

  /** Encode = pure per-row map: the codebook broadcasts as one sorted
    * array per subspace and the argmin folds over it in cid order
    * (strict < keeps the first minimum → ties to smaller cid, the same
    * rule as min(struct(dd, cid))). The corpus subvectors never enter a
    * shuffle — at 100 TB only (vec_id, ss, cid) code tuples ever move. */
  private[operators] def pqEncode(subs: DataFrame,
      cents: DataFrame): DataFrame = {
    val cbook = cents.groupBy(col("ss"))
      .agg(sort_array(collect_list(struct(col("cid"), col("cen"))))
        .as("cbook"))
    // r15: interpreted argmin fold → codegen'd ARGMIN_L2 kernel (same
    // motivation and bit-exactness story as coarseReassign; strict `<`
    // keeps the first minimum → ties to the smaller cid, Infinity init).
    subs.join(broadcast(cbook), Seq("ss"))
      .withColumn("cid", graft.functions.VectorFunctions.argminL2(
        col("svec"), col("cbook")))
      .select(col("vec_id"), col("ss"), col("svec"), col("cid"))
  }

  /** Deterministic-init per-subspace k-means; the final (vec_id, ss, cid)
    * CODES — the 8-byte-per-vector artifact, no subvector floats —
    * materialize to `dest` (they feed both the final codebook and the
    * ADC join). */
  private[operators] def pqTrainCodesTo(subs0: DataFrame, sub: Int, k: Int,
      iters: Int, dest: String): DataFrame = {
    // the subvector lineage (normalize + slice, or the residual
    // centroid-subtract join) feeds the init pass and every Lloyd
    // round's encode — run it once
    val subs = graft.sources.Checkpoints.barrier(subs0)
    var assign = subs.withColumn("cid",
      pmod(graft.functions.HashFunctions.fingerprint64(
        col("vec_id").cast("string")), lit(k.toLong)).cast("int"))
    // same per-round barrier as coarseTrainTo, but here the iteration
    // state keeps the sub-bytes-wide svec alongside (re-deriving it
    // would cost a (vec_id, ss)-keyed shuffle of the same payload) —
    // checkpointed state is (ids, `sub` floats, cid) per row, a
    // build-job materialization the reference's writeengine does on
    // disk for every load anyway
    for (_ <- 1 to iters)
      assign = graft.sources.Checkpoints.barrier(
        pqEncode(subs, pqCodebookOf(assign, sub)))
    materialize(assign.select(col("vec_id"), col("ss"), col("cid")), dest)
  }

  /** The query-side ADC distance table (q_id, ss, cid, dd) — m×k doubles
    * per query, the only state the scoring join broadcasts. `querySubs`
    * must already be restricted to the query vectors. */
  private[operators] def pqDtab(querySubs: DataFrame,
      cents: DataFrame): DataFrame =
    querySubs
      .select(col("vec_id").as("q_id"), col("ss"), col("svec").as("qsvec"))
      .join(broadcast(cents), Seq("ss"))
      .select(col("q_id"), col("ss"), col("cid"),
        l2sqExpr("qsvec", "cen").as("dd"))

  /** ADC scoring tail: per-(q, vec) fixed-order distance sum over the m
    * subspaces (sum(when ss=j) each aggregates exactly one value, then
    * d0+d1+…+d{m-1} adds in a fixed order — nothing order-sensitive),
    * ranked ascending, top-k, exact cosine emitted alongside. */
  private[operators] def adcTopK(scoredPairs: DataFrame, base: DataFrame,
      m: Int, topk: Int, nq: Int): DataFrame = {
    val perSs = (0 until m).map(j =>
      sum(when(col("ss") === j, col("dd")).otherwise(0.0)).as(s"d$j"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_dist").asc, col("vec_id"))
    val queries = base.filter(col("vec_id") < nq)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    scoredPairs
      .groupBy(col("q_id"), col("vec_id"))
      .agg(perSs.head, perSs.tail: _*)
      .withColumn("approx_dist",
        (0 until m).map(j => col(s"d$j")).reduce(_ + _))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topk)
      .join(base, Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .select(col("q_id"), col("rk"), col("vec_id"), col("approx_dist"),
        graft.functions.VectorFunctions.cosineSim(
          col("q_emb"), col("embedding")).as("cos"))
      .orderBy(col("q_id"), col("rk"))
  }

  // ---- persisted index lifecycle ---------------------------------------

  /** L2-normalized coarse centroids (cid, ncen) — the residual encoding's
    * subtraction table (16 rows, always broadcast). */
  private[operators] def normCentroids(cents: DataFrame): DataFrame =
    cents.select(col("cid"),
      expr("transform(centroid, x -> double(x) / " +
        "sqrt(aggregate(centroid, cast(0 as double), " +
        "(acc, v) -> acc + double(v) * double(v))))").as("ncen"))

  /** Residual subvectors (vec_id, ss, svec) for r = nemb − ncen(assigned
    * cluster) — the FAISS-default IVFPQ encoding input. Per-row map
    * against the broadcast normalized-centroid table; vectors never
    * shuffle. */
  private[operators] def residualSubs(base: DataFrame, assign: DataFrame,
      cents: DataFrame, m: Int, sub: Int): DataFrame = {
    val ncen = normCentroids(cents)
    normalizedEmb(base).join(assign, Seq("vec_id"))
      .join(broadcast(ncen), Seq("cid"))
      .select(col("vec_id"),
        // r16: interpreted zip_with subtract → codegen'd VEC_SUB (same
        // element order and double arithmetic; VectorKernels.vecSub)
        graft.functions.VectorFunctions.vecSub(col("nemb"), col("ncen"))
          .as("rvec"))
      .select(col("vec_id"),
        posexplode(array((0 until m).map(j =>
          expr(s"slice(rvec, ${j * sub + 1}, $sub)")): _*)))
      .withColumnRenamed("pos", "ss")
      .withColumnRenamed("col", "svec")
  }

  /** Offline index build: train both quantizers over the corpus at `dir`
    * and persist the artifacts — direct-encoding PQ (codebook + codes)
    * AND residual-encoding PQ (respq_codebook + respq_codes) share the
    * one coarse training. Forced — always retrains. */
  def build(s: SparkSession, dir: String): Unit = {
    java.nio.file.Files.deleteIfExists(marker(dir))
    val base = Tables.table(s, dir, "embeddings")
    // r16 (guide §2.6 overlap independent jobs): the coarse k-means and
    // the DIRECT-encoding PQ training share no state, yet ran strictly
    // sequentially — and both are chains of short, largely single-task
    // jobs whose wall is scheduler/driver latency, not cores. Two
    // driver threads submit them concurrently so one chain's stages
    // back-fill the other's idle executors (Spark schedules concurrent
    // jobs natively; actions were only sequential because this code
    // called them sequentially). The residual training stays after the
    // join point — it consumes the coarse assignment. Results are
    // unchanged: the chains share no mutable state and each artifact
    // path is written by exactly one thread.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val coarseF = Future {
      val assign = coarseTrainTo(base, K, ITERS, assignPath(dir))
      val cents = materialize(coarseCentroids(base, assign),
        centroidsPath(dir))
      (assign, cents)
    }
    // the subvector tables feed every training pass (init, each Lloyd
    // round's encode, the final codebook): barrier them once instead of
    // re-running the normalize+slice (and, for residuals, the
    // centroid-subtract join) lineage per pass. Build-job-only
    // materialization; the serving read paths never see these.
    val pqF = Future {
      val subs = graft.sources.Checkpoints.barrier(pqSubs(base, M, SUB))
      trainPq(subs, codesPath(dir), codebookPath(dir))
    }
    val (assign, cents) = Await.result(coarseF, Duration.Inf)
    Await.result(pqF, Duration.Inf)
    val rsubs = graft.sources.Checkpoints.barrier(
      residualSubs(base, assign, cents, M, SUB))
    trainPq(rsubs, resCodesPath(dir), resCodebookPath(dir))
    java.nio.file.Files.writeString(marker(dir), s"$IndexVersion\n")
  }

  /** One PQ training for the offline build: iterate on `subs`, persist
    * codes (ids only) and the codebook. The codebook aggregates the
    * final iteration's in-flight (svec, cid) state directly — the same
    * rows a codes⋈subs re-join would produce, minus the join. */
  private def trainPq(subs: DataFrame, codesDest: String,
      bookDest: String): Unit = {
    var assign = subs.withColumn("cid",
      pmod(graft.functions.HashFunctions.fingerprint64(
        col("vec_id").cast("string")), lit(KPQ.toLong)).cast("int"))
    for (_ <- 1 to ITERS)
      assign = graft.sources.Checkpoints.barrier(
        pqEncode(subs, pqCodebookOf(assign, SUB)))
    materialize(assign.select(col("vec_id"), col("ss"), col("cid")),
      codesDest)
    materialize(pqCodebookOf(assign, SUB), bookDest)
  }

  /** Build only if a CURRENT-layout index for `dir` doesn't exist yet:
    * the marker must carry IndexVersion and every versioned artifact
    * path must be present.
    *
    * The check-and-build runs under the same kernel-file-lock writer
    * lock DML uses (keyed on the index dir), so two sessions racing a
    * cold index serialize — one builds, the other re-checks and finds
    * it fresh — instead of both writing the same artifact dirs
    * concurrently. The marker read is fallible on purpose: a concurrent
    * rebuild in an UNLOCKED world could delete the marker between the
    * exists() and readString(); under the lock that can't happen, but
    * treating any read failure as "not fresh" keeps the check correct
    * even against out-of-band deletion (an operator rm -rf mid-check). */
  def ensureBuilt(s: SparkSession, dir: String): Unit =
    graft.sources.TableLocks.withLock(indexDir(dir), "ann_build",
        timeoutMs = 30 * 60 * 1000L) {
      val fresh =
        (try java.nio.file.Files.exists(marker(dir)) &&
           java.nio.file.Files.readString(marker(dir)).trim == IndexVersion
         catch { case _: Exception => false }) &&
          Seq(centroidsPath(dir), assignPath(dir), codebookPath(dir),
            codesPath(dir), resCodebookPath(dir), resCodesPath(dir))
            .forall(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
      if (!fresh) build(s, dir)
    }

  /** THE probe-pruning × ADC read plan, shared by every IVF+PQ read
    * path (prebuilt index, merged/deleted composed chains, segmented
    * maintenance): probe the broadcast centroids, draw candidates from
    * the assignment lists, score against the broadcast per-query
    * distance table, heap the top-k. One copy — a scoring or plan fix
    * lands everywhere the plan-pinning tests guard. */
  private[operators] def ivfPqPlan(base: DataFrame, cents: DataFrame,
      assign: DataFrame, book: DataFrame, codes: DataFrame,
      nprobe: Int, topk: Int, nq: Int): DataFrame = {
    val queries = base.filter(col("vec_id") < nq)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probes = coarseProbes(queries, cents, nprobe)
    val cands = assign.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
    val dtab = pqDtab(pqSubs(base.filter(col("vec_id") < nq), M, SUB),
      book)
    val pairs = cands
      .join(codes, Seq("vec_id"))
      .join(broadcast(dtab), Seq("q_id", "ss", "cid"))
    adcTopK(pairs, base, M, topk, nq)
  }

  /** The read-side IVF+PQ query over prebuilt artifacts: probe pruning ×
    * ADC codes, no training subtree anywhere in the plan. */
  def ivfPqQuery(s: SparkSession, dir: String, nprobe: Int = NPROBE,
      topk: Int = 3, nq: Int = 10): DataFrame =
    ivfPqPlan(Tables.table(s, dir, "embeddings"),
      s.read.parquet(centroidsPath(dir)),
      s.read.parquet(assignPath(dir)),
      s.read.parquet(codebookPath(dir)),
      s.read.parquet(codesPath(dir)), nprobe, topk, nq)

  /** Per-probe residual ADC distance table (q_id, pcid, ss, cid, dd) —
    * nprobe × m × k doubles per query, all broadcast-sized. Shared by
    * the composed x_ann_pq_residual_topk and the indexed query. */
  private[operators] def residualDtab(base: DataFrame, probes: DataFrame,
      ncen: DataFrame, book: DataFrame, m: Int, sub: Int,
      nq: Int): DataFrame =
    normalizedEmb(base.filter(col("vec_id") < nq))
      .select(col("vec_id").as("q_id"), col("nemb"))
      .join(broadcast(probes), Seq("q_id"))
      .join(broadcast(ncen), Seq("cid"))
      .select(col("q_id"), col("cid").as("pcid"),
        graft.functions.VectorFunctions.vecSub(col("nemb"), col("ncen"))
          .as("rq"))
      .select(col("q_id"), col("pcid"),
        posexplode(array((0 until m).map(j =>
          expr(s"slice(rq, ${j * sub + 1}, $sub)")): _*)))
      .withColumnRenamed("pos", "ss")
      .withColumnRenamed("col", "qsvec")
      .join(broadcast(book), Seq("ss"))
      .select(col("q_id"), col("pcid"), col("ss"), col("cid"),
        l2sqExpr("qsvec", "cen").as("dd"))

  /** The read-side RESIDUAL IVF+PQ query over prebuilt artifacts
    * (respq_codebook/respq_codes + the shared coarse artifacts): per-probe
    * residual ADC tables × candidate codes, no training subtree — the
    * indexed twin of the composed x_ann_pq_residual_topk. */
  def ivfPqResidualQuery(s: SparkSession, dir: String,
      nprobe: Int = NPROBE, topk: Int = 3, nq: Int = 10): DataFrame = {
    val base = Tables.table(s, dir, "embeddings")
    val cents = s.read.parquet(centroidsPath(dir))
    val assign = s.read.parquet(assignPath(dir))
    val book = s.read.parquet(resCodebookPath(dir))
    val codes = s.read.parquet(resCodesPath(dir))
    val queries = base.filter(col("vec_id") < nq)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probes = coarseProbes(queries, cents, nprobe)
    val rdtab = residualDtab(base, probes, normCentroids(cents), book,
      M, SUB, nq)
    val cands = assign.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("cid").as("pcid"))
    val pairs = cands.join(codes, Seq("vec_id"))
      .join(broadcast(rdtab), Seq("q_id", "pcid", "ss", "cid"))
    adcTopK(pairs, base, M, topk, nq)
  }

  /** METADATA-FILTERED IVF+PQ search over prebuilt artifacts — the
    * "filtered vector search" every production ANN service exposes
    * (tenant/category scoping): candidates keep only vectors whose label
    * matches the query's label, applied BEFORE ADC scoring (prefilter
    * strategy — at 100 TB the label join is keyed on the probe-pruned
    * candidate ids, a tiny fraction of the corpus, and scoring cost
    * shrinks with the filter's selectivity; the postfilter alternative
    * would re-rank k results and silently under-fill). */
  def ivfPqQueryFiltered(s: SparkSession, dir: String, nprobe: Int = NPROBE,
      topk: Int = 3, nq: Int = 10): DataFrame = {
    val base = Tables.table(s, dir, "embeddings")
    val cents = s.read.parquet(centroidsPath(dir))
    val assign = s.read.parquet(assignPath(dir))
    val codebook = s.read.parquet(codebookPath(dir))
    val codes = s.read.parquet(codesPath(dir))
    val queries = base.filter(col("vec_id") < nq)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probes = coarseProbes(queries, cents, nprobe)
    val labels = base.select(col("vec_id"), col("label"))
    val qLabels = base.filter(col("vec_id") < nq)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"))
    val cands = assign.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
      .join(labels, Seq("vec_id"))
      .join(broadcast(qLabels), Seq("q_id"))
      .filter(col("label") === col("q_label"))
      .select(col("q_id"), col("vec_id"))
    val dtab = pqDtab(pqSubs(base.filter(col("vec_id") < nq), M, SUB),
      codebook)
    val pairs = cands
      .join(codes, Seq("vec_id"))
      .join(broadcast(dtab), Seq("q_id", "ss", "cid"))
    adcTopK(pairs, base, M, topk, nq)
  }

  /** Exact-cosine IVF search over prebuilt artifacts: probe pruning from
    * the persisted coarse index, then true cosine on the surviving
    * candidates only (the "IVF-Flat" shape next to ivfPqQuery's IVF+PQ).
    * Returns (q_id, vec_id) of each query's top-k. */
  def ivfExactTopK(s: SparkSession, dir: String, nprobe: Int = NPROBE,
      topk: Int = 3, nq: Int = 10): DataFrame = {
    val base = Tables.table(s, dir, "embeddings")
    val cents = s.read.parquet(centroidsPath(dir))
    val assign = s.read.parquet(assignPath(dir))
    val queries = base.filter(col("vec_id") < nq)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probes = coarseProbes(queries, cents, nprobe)
    val cands = assign.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cands.join(base, Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.functions.VectorFunctions.cosineSim(
          col("q_emb"), col("embedding")).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topk)
      .select(col("q_id"), col("vec_id"))
  }

  /** Frozen-index INGEST: encode a new vector batch against prebuilt
    * artifacts — NO retraining, the per-ingest cost is a pure per-row
    * map against the broadcast centroid/codebook tables (the ANN analog
    * of x_dedup_incremental's precomputed band index). At 100 TB a
    * nightly ingest appends (vec_id, cid) + 8-byte codes for the new
    * batch only; the quantizers refresh on their own schedule. Returns
    * (vec_id, cid, codes[m ordered by subspace]). */
  def ingestEncode(batch: DataFrame, cents: DataFrame,
      codebook: DataFrame): DataFrame = {
    val bAssign = coarseReassign(batch, cents)
    // codes are emitted comma-joined rather than as a LIST column: the
    // driver's pandas-side compare sorts every output column, and object
    // arrays are unhashable there — a scalar string carries the same
    // bit-exact content
    val bCodes = pqEncode(pqSubs(batch, M, SUB), codebook)
      .groupBy(col("vec_id"))
      .agg(expr(
        "array_join(transform(sort_array(collect_list(struct(ss, cid))), " +
          "x -> cast(x.cid as string)), ',')")
        .as("codes_csv"))
    bAssign.join(bCodes, Seq("vec_id"))
      .select(col("vec_id"), col("cid"), col("codes_csv"))
      .orderBy(col("vec_id"))
  }

  // ---- segmented index maintenance (append / delete, no retraining) ----
  //
  // The production twin of the composed x_ann_index_merge /
  // x_ann_index_delete chains: posting/code lists live in IMMUTABLE
  // segments (a trained base plus frozen-encoded deltas), deletes are an
  // ids-only tombstone artifact, and the read side unions live segments
  // minus tombstones — the Lucene/FAISS-IndexShards layout every serving
  // ANN system converges on, because at 100 TB appends must be O(batch)
  // file writes and deletes O(tombstones) metadata, never a list
  // rewrite. Three disciplines make it safe under concurrency, the same
  // ones Catalog DML uses:
  //
  //  * MANIFEST commit point — which segment/tombstone dirs are live is
  //    published by atomically renaming a manifest file; readers resolve
  //    the manifest once per query, so they can never see a
  //    half-published append or a mid-compaction state.
  //  * writer lock — every mutator runs under the same TableLocks
  //    kernel file lock DML uses, so two appenders' manifest
  //    read-modify-writes serialize across JVMs.
  //  * one-generation retention — compaction writes the new base under a
  //    fresh generation name, publishes, and only deletes dirs that a
  //    PREVIOUS compaction superseded; a reader that resolved the old
  //    manifest keeps valid files until the next compaction cycle
  //    (production sets the retention window by time instead).
  //
  // Re-publishing the SAME logical segment (or a new tombstone set)
  // within one generation writes a FRESH physical dir with a bumped
  // suffix and moves the old one to the retention list — live dirs are
  // never overwritten in place, so a racing reader can never see
  // partial parquet. Repeated deletes between compactions are the
  // normal case, not an edge case.

  private def maintRoot(dir: String): String = s"${indexDir(dir)}/maint"
  private def maintPath(dir: String, part: String): String =
    s"${maintRoot(dir)}/$part"
  private def withMaintLock[T](dir: String)(f: => T): T =
    graft.sources.TableLocks.withLock(maintRoot(dir), "ann_maint")(f)

  /** The manifest: epoch (bumped per destructive rebuild) + generation
    * counter (bumped per compaction), the live centroid/codebook dirs,
    * live (logical → physical) segment dirs, the live tombstone dir,
    * and superseded dirs retained until the next compaction. */
  private case class MaintManifest(gen: Int, epoch: Int,
      cents: String, book: String, segs: Seq[(String, String)],
      tomb: Option[String], prev: Seq[String])

  private def manifestFile(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(maintPath(dir, "MANIFEST"))

  private def readManifest(dir: String): MaintManifest = {
    val lines = java.nio.file.Files
      .readAllLines(manifestFile(dir)).toArray(Array.empty[String])
    def one(tag: String, dflt: String): String =
      lines.collectFirst { case l if l.startsWith(s"$tag:") =>
        l.drop(tag.length + 1) }.getOrElse(dflt)
    MaintManifest(
      gen = one("gen", "0").toInt,
      epoch = one("epoch", "0").toInt,
      cents = one("cents", "cents"),
      book = one("book", "book"),
      segs = lines.toSeq.filter(_.startsWith("seg:")).map { l =>
        val Array(logical, physical) = l.drop(4).split(":", 2)
        (logical, physical)
      },
      tomb = lines.collectFirst { case l if l.startsWith("tomb:") =>
        l.drop(5) },
      prev = lines.toSeq.filter(_.startsWith("prev:")).map(_.drop(5)))
  }

  /** Atomic publication: write aside, ATOMIC_MOVE over MANIFEST. Single
    * writer (the maint lock is held), so rename-replace is safe — this
    * is publication, not a claim. */
  private def publishManifest(dir: String, m: MaintManifest): Unit = {
    val body = (Seq(s"gen:${m.gen}", s"epoch:${m.epoch}",
      s"cents:${m.cents}", s"book:${m.book}") ++
      m.segs.map { case (l, p) => s"seg:$l:$p" } ++
      m.tomb.map(t => s"tomb:$t").toSeq ++
      m.prev.map(p => s"prev:$p")).mkString("", "\n", "\n")
    val tmp = java.nio.file.Paths.get(
      maintPath(dir, s"MANIFEST.tmp.${ProcessHandle.current().pid()}"))
    java.nio.file.Files.createDirectories(tmp.getParent)
    java.nio.file.Files.writeString(tmp, body)
    java.nio.file.Files.move(tmp, manifestFile(dir),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Train the BASE segment on the non-held-out corpus (vec_id % 8 ≠ 0 —
    * the same split as the composed merge/delete chains so the DuckDB
    * oracle replays it), persist centroids/codebook plus the base
    * assignment/codes under a FRESH epoch prefix, publish, then wipe
    * the previous epoch. Write-aside-then-publish like every other
    * mutator: a crash mid-rebuild leaves the old manifest pointing at
    * intact old-epoch dirs. The post-publish wipe is what makes a
    * rebuild destructive (DROP + CREATE): racing readers of the OLD
    * index lose their files — by contract, not by accident. */
  def buildBaseSegment(s: SparkSession, dir: String): Unit =
    withMaintLock(dir) {
      val epoch =
        if (java.nio.file.Files.exists(manifestFile(dir)))
          readManifest(dir).epoch + 1
        else 0
      val basePhys = s"e${epoch}_base_g0"
      val centsPhys = s"e${epoch}_cents"
      val bookPhys = s"e${epoch}_book"
      val base = Tables.table(s, dir, "embeddings")
        .filter(pmod(col("vec_id"), lit(8)) =!= 0)
      val assign = coarseTrainTo(base, K, ITERS,
        maintPath(dir, s"$basePhys/assign"))
      materialize(coarseCentroids(base, assign), maintPath(dir, centsPhys))
      val subs = graft.sources.Checkpoints.barrier(pqSubs(base, M, SUB))
      trainPq(subs, maintPath(dir, s"$basePhys/codes"),
        maintPath(dir, bookPhys))
      publishManifest(dir, MaintManifest(0, epoch, centsPhys, bookPhys,
        Seq(("seg0", basePhys)), None, Seq.empty))
      // drop everything the fresh manifest doesn't reference
      val keep = Set(basePhys, centsPhys, bookPhys, "MANIFEST", "_locks")
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.list(
        java.nio.file.Paths.get(maintRoot(dir)))) { st =>
        st.iterator().asScala.toSeq
          .filterNot(p => keep(p.getFileName.toString))
      }.foreach(p =>
        graft.sources.FsUtil.deleteRecursively(p, swallowErrors = true))
    }

  /** APPEND: frozen-encode `batch` against the persisted base
    * centroids/codebook, write it as the named delta segment, and
    * publish — a pure per-row map over broadcast artifacts plus an
    * O(batch) file write and a manifest rename. Re-running with the same
    * name republishes that delta (never double-appends); several ingest
    * batches coexist as seg1/seg2/… until `compact` folds them. */
  /** Bump-suffixed physical name: `<stem>_0` for the first publication,
    * `_<k+1>` when replacing `cur` — never the same dir twice. */
  private def freshPhys(stem: String, cur: Option[String]): String = {
    val k = cur.map(p => p.substring(p.lastIndexOf('_') + 1).toInt + 1)
      .getOrElse(0)
    s"${stem}_$k"
  }

  def appendSegment(s: SparkSession, dir: String, batch: DataFrame,
      seg: String = "seg1"): Unit = withMaintLock(dir) {
    require(seg.matches("seg[1-9][0-9]*"), s"bad segment name: $seg")
    java.nio.file.Files.deleteIfExists(maintStateMarker(dir))
    val m = readManifest(dir)
    val old = m.segs.find(_._1 == seg).map(_._2)
    val phys = freshPhys(s"${seg}_g${m.gen}", old)
    val cents = s.read.parquet(maintPath(dir, m.cents))
    val book = s.read.parquet(maintPath(dir, m.book))
    coarseReassign(batch, cents)
      .write.mode("overwrite").parquet(maintPath(dir, s"$phys/assign"))
    pqEncode(pqSubs(batch, M, SUB), book)
      .select(col("vec_id"), col("ss"), col("cid"))
      .write.mode("overwrite").parquet(maintPath(dir, s"$phys/codes"))
    publishManifest(dir, m.copy(
      segs = m.segs.filterNot(_._1 == seg) :+ (seg, phys),
      prev = m.prev ++ old.toSeq))
  }

  /** DELETE: persist the tombstone id set under a generation-stamped dir
    * and publish it as THE live tombstone state (not an append log —
    * the newest set wins, mirroring the composed x_ann_index_delete).
    * O(tombstones) metadata; no list is touched until `compact`. */
  def writeTombstones(s: SparkSession, dir: String, ids: DataFrame): Unit =
    withMaintLock(dir) {
      java.nio.file.Files.deleteIfExists(maintStateMarker(dir))
      val m = readManifest(dir)
      val phys = freshPhys(s"tomb_g${m.gen}", m.tomb)
      ids.select(col("vec_id"))
        .write.mode("overwrite").parquet(maintPath(dir, phys))
      publishManifest(dir, m.copy(tomb = Some(phys),
        prev = m.prev ++ m.tomb.toSeq))
    }

  /** Live posting/code lists as of one manifest resolution: the union of
    * live segments minus tombstones. The tombstone prune anti-joins the
    * ids-only ASSIGNMENT union (broadcast — tombstone sets are tiny next
    * to the corpus), so a deleted id never becomes a candidate; its dead
    * code rows cost nothing until compaction drops them, exactly like
    * any tombstone-based store. */
  private def liveLists(s: SparkSession, dir: String,
      m: MaintManifest): (DataFrame, DataFrame) = {
    var assign = m.segs
      .map { case (_, p) => s.read.parquet(maintPath(dir, s"$p/assign")) }
      .reduce(_ unionByName _)
    val codes = m.segs
      .map { case (_, p) => s.read.parquet(maintPath(dir, s"$p/codes")) }
      .reduce(_ unionByName _)
    for (t <- m.tomb) {
      val tomb = s.read.parquet(maintPath(dir, t))
      assign = assign.join(broadcast(tomb), Seq("vec_id"), "left_anti")
    }
    (assign, codes)
  }

  /** The read-side query over the maintained index: resolve the manifest
    * once, then the shared probe-pruning × ADC plan over the live lists
    * — artifact reads only, no training subtree, ivfPqQuery's shape
    * plus the tombstone anti-join. */
  def maintQuery(s: SparkSession, dir: String, nprobe: Int = NPROBE,
      topk: Int = 3, nq: Int = 10): DataFrame = {
    val m = readManifest(dir)
    val (assign, codes) = liveLists(s, dir, m)
    ivfPqPlan(Tables.table(s, dir, "embeddings"),
      s.read.parquet(maintPath(dir, m.cents)),
      assign,
      s.read.parquet(maintPath(dir, m.book)),
      codes, nprobe, topk, nq)
  }

  /** COMPACT: fold all delta segments and tombstones into a new base
    * under the NEXT generation name, publish, and delete only retained
    * dirs from OLDER generations — everything written during the
    * current generation (including dirs a republish superseded moments
    * ago) survives one more full cycle, so a reader that resolved ANY
    * manifest state of this generation keeps valid files throughout the
    * compaction that ends it. Queries before and after must return
    * identical rows — the invariant the VectorTextSpec maintenance test
    * pins. */
  def compact(s: SparkSession, dir: String): Unit = withMaintLock(dir) {
    java.nio.file.Files.deleteIfExists(maintStateMarker(dir))
    val m = readManifest(dir)
    val (assign, codes) = liveLists(s, dir, m)
    // prune dead code rows against the broadcast TOMBSTONE set (the
    // small side — anti-joining against the full assignment would
    // broadcast the corpus id set)
    val liveCodes = m.tomb match {
      case Some(t) => codes.join(
        broadcast(s.read.parquet(maintPath(dir, t))),
        Seq("vec_id"), "left_anti")
      case None => codes
    }
    val newGen = m.gen + 1
    val newBase = s"e${m.epoch}_base_g$newGen"
    assign.write.mode("overwrite")
      .parquet(maintPath(dir, s"$newBase/assign"))
    liveCodes.write.mode("overwrite")
      .parquet(maintPath(dir, s"$newBase/codes"))
    val genOf = (p: String) =>
      p.split("_g")(1).split("_")(0).toInt
    val (dropNow, carry) = m.prev.partition(p => genOf(p) < m.gen)
    publishManifest(dir, m.copy(gen = newGen,
      segs = Seq(("seg0", newBase)), tomb = None,
      prev = carry ++ m.segs.map(_._2) ++ m.tomb.toSeq))
    val root = java.nio.file.Paths.get(maintRoot(dir))
    dropNow.foreach(p => graft.sources.FsUtil.deleteRecursively(
      root.resolve(p), swallowErrors = true))
  }

  // ---- canonical maintained state -----------------------------------
  // The maintenance row and the recall gate share one lifecycle schedule
  // (base on vec_id%8≠0, delta = the held-out eighth, tombstones
  // vec_id%5=3). establishMaintained ALWAYS rebuilds it — that is what
  // x_ann_index_maintenance times — and stamps a marker; ensureMaintained
  // skips when the marker says the canonical state is already live, so
  // the recall gate doesn't re-pay the base training the maintenance row
  // just performed in the same sweep (standalone it builds). Every OTHER
  // mutator invalidates the marker (buildBaseSegment's post-publish wipe
  // removes it as an unreferenced file; append/tombstone/compact delete
  // it explicitly), so the marker can never claim canonical over a
  // diverged manifest.

  private def maintStateMarker(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(maintPath(dir, "_canonical_state"))
  private val MaintStateVersion = s"$IndexVersion-canon1"

  /** Rebuild the canonical maintained state from scratch (build → append
    * → tombstones) and stamp it. */
  def establishMaintained(s: SparkSession, dir: String): Unit =
    withMaintLock(dir) {
      val all = Tables.table(s, dir, "embeddings")
      buildBaseSegment(s, dir)
      appendSegment(s, dir, all.filter(pmod(col("vec_id"), lit(8)) === 0))
      writeTombstones(s, dir,
        all.filter(pmod(col("vec_id"), lit(5)) === 3))
      java.nio.file.Files.writeString(maintStateMarker(dir),
        s"$MaintStateVersion\n")
    }

  /** Establish the canonical maintained state only when it isn't already
    * the live one (same idempotence contract as ensureBuilt, same
    * fallible-read rule: any marker read failure means rebuild). */
  def ensureMaintained(s: SparkSession, dir: String): Unit =
    withMaintLock(dir) {
      val fresh =
        try java.nio.file.Files.readString(maintStateMarker(dir)).trim ==
            MaintStateVersion &&
          java.nio.file.Files.exists(manifestFile(dir))
        catch { case _: Exception => false }
      if (!fresh) establishMaintained(s, dir)
    }

  /** Artifact summary for the build gate: per coarse cluster and per PQ
    * codebook entry, member counts and centroid norms (rounded 4) — the
    * content the DuckDB oracle replays from its own training chain. */
  def buildSummary(s: SparkSession, dir: String): DataFrame = {
    val normR4 = (c: String) => round(expr(
      s"aggregate(transform($c, x -> double(x) * double(x)), " +
        "cast(0 as double), (acc, v) -> acc + v)"), 4)
    val coarse = s.read.parquet(assignPath(dir))
      .groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .join(s.read.parquet(centroidsPath(dir)), Seq("cid"))
      .select(lit("coarse").as("component"), col("cid").as("k1"),
        lit(-1).as("k2"), col("n"), normR4("centroid").as("norm_r4"))
    val pq = s.read.parquet(codesPath(dir))
      .groupBy(col("ss"), col("cid")).agg(count(lit(1)).as("n"))
      .join(s.read.parquet(codebookPath(dir)), Seq("ss", "cid"))
      .select(lit("pq").as("component"), col("ss").as("k1"),
        col("cid").as("k2"), col("n"), normR4("cen").as("norm_r4"))
    coarse.unionAll(pq)
      .orderBy(col("component"), col("k1"), col("k2"))
  }
}
