package graft.operators

import graft.Tables
import graft.sources.Catalog
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
  * codebooks ONCE and commits the artifacts as `sources.Catalog` tables:
  *
  *   coarse_centroids (cid, centroid)   k×64 floats — the probe table
  *   coarse_assign    (vec_id, cid)     the inverted-list assignment
  *   pq_codebook      (ss, cid, cen)    m×k×sub floats — the ADC table
  *   pq_codes         (vec_id, ss, cid) m small ints/vector — 8-byte codes
  *
  * (plus the residual pair respq_codebook/respq_codes). The catalog's
  * manifest log is the index's one version authority, as BRM is for every
  * file in the reference (versioning/BRM/dbrm.h:163-192): a row-less
  * `index` table is the publish point, its props name each artifact's
  * version, and a reader pins them once and reads `tableAsOf` each.
  *
  * `ivfPqQuery` then composes a pure read-side plan: probe pruning from
  * the broadcast centroids, candidate lists from the assignment, ADC
  * scoring from codes × broadcast query distance table — NO k-means
  * subtree, no corpus re-scan beyond the candidate re-join (pinned in
  * PlanSpec). At 100 TB the build is an offline job writing the same
  * artifacts to the warehouse; the query side is sub-second because its
  * only large input is nprobe/k of the code table.
  *
  * Training hands its final state to a sink that writes it and reads it
  * back — a catalog commit in the build, scratch parquet (`materialize`)
  * in the composed in-line queries — instead of `persist()`:
  * multi-consumer subtrees still run the k-means lineage once, but the
  * Spark block-manager cache stays empty — a library caller composing
  * many ANN queries in one session accumulates nothing (asserted in
  * VectorTextSpec).
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
  // each other's artifacts), deleted with everything under it when the JVM
  // exits. -Dgraft.ann.scratch overrides it with a caller-managed SHARED
  // root that is never deleted — how the two-JVM maintenance contention
  // test points a child mutator at the parent's index (a production
  // deployment would root this on the shared filesystem anyway; the
  // catalog's locks are already cross-process).
  private lazy val scratchRoot: java.nio.file.Path = {
    val p = sys.props.get("graft.ann.scratch") match {
      case Some(shared) => java.nio.file.Paths.get(shared)
      case None =>
        val d = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"),
          s"graft_ann_index_${ProcessHandle.current().pid()}")
        sys.addShutdownHook(
          graft.sources.FsUtil.deleteRecursively(d, swallowErrors = true))
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
    * scaling corpus) without collision. It is the built index's catalog
    * root; the maintained index's root is its `maint` subdirectory. */
  def indexDir(dir: String): String =
    scratchRoot.resolve(dir.replaceAll("[^A-Za-z0-9._-]", "_")).toString

  private def builtCatalog(s: SparkSession, dir: String) =
    new Catalog(s, indexDir(dir))
  private val builtTables = Seq("coarse_centroids", "coarse_assign",
    "pq_codebook", "pq_codes", "respq_codebook", "respq_codes")

  /** Artifact-layout version, published as `index`'s `layout` prop.
    * Bumped whenever build() gains a new artifact (v2 = the r7 respq
    * codebook/codes) OR changes how an artifact's bytes are produced
    * (v3 = the r8 training restructure), so an index built by an older
    * layout reads as absent and rebuilds. v4: the artifacts became
    * catalog tables. */
  private val IndexVersion = "v4"

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
    * final (vec_id, cid) assignment goes through `sink`: it feeds
    * several subtrees (final centroids, probes, candidate lists), so the
    * k-means lineage runs once, with no block-manager cache entry. */
  private[operators] def coarseTrainTo(base: DataFrame, k: Int, iters: Int,
      sink: DataFrame => DataFrame): DataFrame = {
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
    sink(assign)
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
    * go through `sink` (they feed both the final codebook and the
    * ADC join). */
  private[operators] def pqTrainCodesTo(subs0: DataFrame, sub: Int, k: Int,
      iters: Int, sink: DataFrame => DataFrame): DataFrame = {
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
    sink(assign.select(col("vec_id"), col("ss"), col("cid")))
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
    * and commit the artifacts — direct-encoding PQ (codebook + codes)
    * AND residual-encoding PQ (respq_codebook + respq_codes) share the
    * one coarse training — then publish them in one `index` commit.
    * Forced — always retrains. Readers of the previous index keep its
    * versions until the next build. */
  def build(s: SparkSession, dir: String): Unit = withBuildLock(dir) {
    val cat = builtCatalog(s, dir)
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
    // table is written by exactly one thread.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val coarseF = Future {
      val assign = coarseTrainTo(base, K, ITERS, replace(cat, "coarse_assign"))
      (assign, replace(cat, "coarse_centroids")(coarseCentroids(base, assign)))
    }
    // the subvector tables feed every training pass (init, each Lloyd
    // round's encode, the final codebook): barrier them once instead of
    // re-running the normalize+slice (and, for residuals, the
    // centroid-subtract join) lineage per pass. Build-job-only
    // materialization; the serving read paths never see these.
    val pqF = Future {
      val subs = graft.sources.Checkpoints.barrier(pqSubs(base, M, SUB))
      trainPq(subs, replace(cat, "pq_codes"), replace(cat, "pq_codebook"))
    }
    val (assign, cents) = Await.result(coarseF, Duration.Inf)
    Await.result(pqF, Duration.Inf)
    val rsubs = graft.sources.Checkpoints.barrier(
      residualSubs(base, assign, cents, M, SUB))
    trainPq(rsubs, replace(cat, "respq_codes"), replace(cat, "respq_codebook"))
    publishIndex(cat, builtTables)
    retain(cat, builtTables)
  }

  /** One PQ training for the offline build: iterate on `subs`, commit
    * codes (ids only) and the codebook. The codebook aggregates the
    * final iteration's in-flight (svec, cid) state directly — the same
    * rows a codes⋈subs re-join would produce, minus the join. */
  private def trainPq(subs: DataFrame, codes: DataFrame => DataFrame,
      book: DataFrame => DataFrame): Unit = {
    var assign = subs.withColumn("cid",
      pmod(graft.functions.HashFunctions.fingerprint64(
        col("vec_id").cast("string")), lit(KPQ.toLong)).cast("int"))
    for (_ <- 1 to ITERS)
      assign = graft.sources.Checkpoints.barrier(
        pqEncode(subs, pqCodebookOf(assign, SUB)))
    codes(assign.select(col("vec_id"), col("ss"), col("cid")))
    book(pqCodebookOf(assign, SUB))
  }

  // ---- publishing through the catalog ---------------------------------

  /** True when `name` has a published version. A directory in the
    * layout before the index became catalog tables is refused (the
    * catalog's pre-manifest check), never read. */
  private def exists(cat: Catalog, name: String): Boolean =
    try { cat.currentVersion(name); true }
    catch { case _: IllegalArgumentException => false }

  /** Commit `df` as the whole of table `name` and read that version back
    * — the sink the trainings write their final state through. A `seg`
    * column is the partition column. */
  private def replace(cat: Catalog, name: String)(df: DataFrame): DataFrame = {
    if (exists(cat, name)) cat.update(name, _ => df)
    else if (df.columns.contains("seg"))
      cat.createTablePartitionedAs(name, df, "seg")
    else cat.createTableAs(name, df)
    cat.table(name)
  }

  /** The one writer of `index`: a props-only commit naming the current
    * version of each of `tables` (plus any `carried` artifact versions),
    * the layout, and whether this is the canonical maintained state —
    * false unless the caller says so, so no mutator can leave a stale
    * claim behind. Nothing reads an artifact version before this commit
    * names it: a writer that dies earlier leaves the old index whole. */
  private def publishIndex(cat: Catalog, tables: Seq[String],
      carried: Map[String, String] = Map.empty,
      canonical: Boolean = false): Unit = {
    if (!exists(cat, "index"))
      cat.createTable("index", new org.apache.spark.sql.types.StructType())
    cat.commitProps("index", carried ++
      tables.map(t => t -> cat.currentVersion(t).toString) ++
      Map("layout" -> IndexVersion, "canonical" -> canonical.toString))
  }

  /** `index`'s current props (empty before the first publish). A
    * retention vacuum may delete the version just listed; the next
    * listing names a newer one. */
  private def pin(cat: Catalog): Map[String, String] =
    if (!exists(cat, "index")) Map.empty
    else try cat.props("index", cat.currentVersion("index"))
    catch { case _: java.nio.file.NoSuchFileException => pin(cat) }

  /** Artifact `name` at the version the pinned props `p` name. */
  private def at(cat: Catalog, p: Map[String, String], name: String) =
    cat.tableAsOf(name, p.getOrElse(name, throw new IllegalArgumentException(
      s"no published index names $name")).toInt)

  /** Retention: vacuum each of `tables` down to the versions that
    * `index`'s retained versions name, then `index` down to its current
    * version, so the next call keeps what is named from this publish
    * on. A reader that pinned any index version since the previous call
    * keeps its files until the next one. */
  private def retain(cat: Catalog, tables: Seq[String]): Unit = {
    val named = (cat.versions("index") :+ cat.currentVersion("index"))
      .map(cat.props("index", _))
    for (t <- tables if exists(cat, t))
      cat.vacuumVersions(t, named.flatMap(_.get(t)).map(_.toInt).minOption
        .fold(0)(oldest => cat.versions(t).count(_ >= oldest)))
    cat.vacuumVersions("index", 0)
  }

  /** The published built index: each artifact at the version `index`
    * names, pinned once for the whole read. */
  private[operators] def built(s: SparkSession,
      dir: String): String => DataFrame = {
    val cat = builtCatalog(s, dir)
    val p = pin(cat)
    at(cat, p, _)
  }

  private def withBuildLock[T](dir: String)(f: => T): T =
    graft.sources.TableLocks.withLock(indexDir(dir), "ann_build",
      timeoutMs = 30 * 60 * 1000L)(f)

  /** Build only if no CURRENT-layout index for `dir` is published yet.
    * The check-and-build runs under the same kernel-file-lock writer
    * lock DML uses (keyed on the index dir), so two sessions racing a
    * cold index serialize — one builds, the other re-checks and finds
    * it published. */
  def ensureBuilt(s: SparkSession, dir: String): Unit = withBuildLock(dir) {
    if (!pin(builtCatalog(s, dir)).get("layout").contains(IndexVersion))
      build(s, dir)
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
      topk: Int = 3, nq: Int = 10): DataFrame = {
    val a = built(s, dir)
    ivfPqPlan(Tables.table(s, dir, "embeddings"), a("coarse_centroids"),
      a("coarse_assign"), a("pq_codebook"), a("pq_codes"), nprobe, topk, nq)
  }

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
    val a = built(s, dir)
    val cents = a("coarse_centroids")
    val assign = a("coarse_assign")
    val book = a("respq_codebook")
    val codes = a("respq_codes")
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
    val a = built(s, dir)
    val cents = a("coarse_centroids")
    val assign = a("coarse_assign")
    val codebook = a("pq_codebook")
    val codes = a("pq_codes")
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
    val a = built(s, dir)
    val cents = a("coarse_centroids")
    val assign = a("coarse_assign")
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
  // rewrite. The artifacts are catalog tables under `<indexDir>/maint`:
  // centroids, codebook, assign and codes (partitioned by `seg`) and
  // tombstones. Three disciplines make it safe under concurrency, the
  // same ones Catalog DML uses:
  //
  //  * one commit point — a mutator commits the artifact tables it
  //    changes, then one props-only `index` commit names their versions;
  //    readers pin `index` once per query, so they can never see a
  //    half-published append or a mid-compaction state.
  //  * writer lock — every mutator runs under the same TableLocks
  //    kernel file lock DML uses, so two appenders' read-modify-writes
  //    of `index` serialize across JVMs.
  //  * one-generation retention — compaction vacuums each artifact down
  //    to the versions named by the `index` versions published since the
  //    previous compaction; a reader that pinned any of them keeps valid
  //    files until the next compaction cycle (production sets the
  //    retention window by time instead).

  private def maintRoot(dir: String): String = s"${indexDir(dir)}/maint"
  private def maintCatalog(s: SparkSession, dir: String) =
    new Catalog(s, maintRoot(dir))
  private val maintTables =
    Seq("centroids", "codebook", "assign", "codes", "tombstones")
  private def withMaintLock[T](dir: String)(f: => T): T =
    graft.sources.TableLocks.withLock(maintRoot(dir), "ann_maint")(f)

  /** Train the BASE segment on the non-held-out corpus (vec_id % 8 ≠ 0 —
    * the same split as the composed merge/delete chains so the DuckDB
    * oracle replays it): commit centroids/codebook and the base
    * assignment/codes as segment seg0, publish, then vacuum every table
    * to its current version. A crash before the publish leaves the old
    * index whole. The vacuum is what makes a rebuild destructive (DROP +
    * CREATE): racing readers of the OLD index lose their files — by
    * contract, not by accident. */
  def buildBaseSegment(s: SparkSession, dir: String): Unit =
    withMaintLock(dir) {
      val cat = maintCatalog(s, dir)
      val base = Tables.table(s, dir, "embeddings")
        .filter(pmod(col("vec_id"), lit(8)) =!= 0)
      def seg0(name: String)(df: DataFrame) =
        replace(cat, name)(df.withColumn("seg", lit("seg0"))).drop("seg")
      val assign = coarseTrainTo(base, K, ITERS, seg0("assign"))
      replace(cat, "centroids")(coarseCentroids(base, assign))
      val subs = graft.sources.Checkpoints.barrier(pqSubs(base, M, SUB))
      trainPq(subs, seg0("codes"), replace(cat, "codebook"))
      publishIndex(cat, Seq("centroids", "codebook", "assign", "codes"))
      cat.vacuumVersions("index", 0)
      retain(cat, maintTables)
    }

  /** APPEND: frozen-encode `batch` against the published base
    * centroids/codebook into the named delta segment's partition of the
    * assign and codes tables, and publish — a pure per-row map over
    * broadcast artifacts plus an O(batch) file write. Re-running with the
    * same name republishes that delta (its partition is dropped first,
    * never double-appended); several ingest batches coexist as
    * seg1/seg2/… until `compact` folds them. */
  def appendSegment(s: SparkSession, dir: String, batch: DataFrame,
      seg: String = "seg1"): Unit = withMaintLock(dir) {
    require(seg.matches("seg[1-9][0-9]*"), s"bad segment name: $seg")
    val cat = maintCatalog(s, dir)
    val p = pin(cat)
    def put(name: String, df: DataFrame): Unit = {
      cat.dropPartition(name, s"seg=$seg")
      cat.insertIntoSelect(name, df.withColumn("seg", lit(seg)))
    }
    put("assign", coarseReassign(batch, at(cat, p, "centroids")))
    put("codes", pqEncode(pqSubs(batch, M, SUB), at(cat, p, "codebook"))
      .select(col("vec_id"), col("ss"), col("cid")))
    publishIndex(cat, Seq("assign", "codes"), p)
  }

  /** DELETE: commit the tombstone id set and publish it as THE live
    * tombstone state (not an append log — the newest set wins, mirroring
    * the composed x_ann_index_delete). O(tombstones) metadata; no list is
    * touched until `compact`. */
  def writeTombstones(s: SparkSession, dir: String, ids: DataFrame): Unit =
    withMaintLock(dir) {
      val cat = maintCatalog(s, dir)
      val p = pin(cat)
      replace(cat, "tombstones")(ids.select(col("vec_id")))
      publishIndex(cat, Seq("tombstones"), p)
    }

  /** Live posting/code lists of one pinned index: every segment's rows,
    * minus tombstones when the index names a tombstone version. The
    * tombstone prune anti-joins the ids-only ASSIGNMENT (broadcast —
    * tombstone sets are tiny next to the corpus), so a deleted id never
    * becomes a candidate; its dead code rows cost nothing until
    * compaction drops them, exactly like any tombstone-based store. */
  private def liveLists(cat: Catalog,
      p: Map[String, String]): (DataFrame, DataFrame) = {
    val assign = at(cat, p, "assign").drop("seg")
    val live = p.get("tombstones").fold(assign)(_ =>
      assign.join(broadcast(at(cat, p, "tombstones")), Seq("vec_id"),
        "left_anti"))
    (live, at(cat, p, "codes").drop("seg"))
  }

  /** The read-side query over the maintained index: pin `index` once,
    * then the shared probe-pruning × ADC plan over the live lists —
    * artifact reads only, no training subtree, ivfPqQuery's shape plus
    * the tombstone anti-join. */
  def maintQuery(s: SparkSession, dir: String, nprobe: Int = NPROBE,
      topk: Int = 3, nq: Int = 10): DataFrame = {
    val cat = maintCatalog(s, dir)
    val p = pin(cat)
    val (assign, codes) = liveLists(cat, p)
    ivfPqPlan(Tables.table(s, dir, "embeddings"), at(cat, p, "centroids"),
      assign, at(cat, p, "codebook"), codes, nprobe, topk, nq)
  }

  /** COMPACT: fold all delta segments and tombstones into a new seg0,
    * publish an index that names no tombstones, and vacuum each artifact
    * down to what the index versions since the previous compaction name
    * — everything published during this generation (including versions
    * a republish superseded moments ago) survives one more full cycle,
    * so a reader that pinned ANY index of this generation keeps valid
    * files throughout the compaction that ends it. Queries before and
    * after must return identical rows — the invariant the VectorTextSpec
    * maintenance test pins. */
  def compact(s: SparkSession, dir: String): Unit = withMaintLock(dir) {
    val cat = maintCatalog(s, dir)
    val p = pin(cat)
    val (assign, codes) = liveLists(cat, p)
    // prune dead code rows against the broadcast TOMBSTONE set (the
    // small side — anti-joining against the full assignment would
    // broadcast the corpus id set)
    val liveCodes = p.get("tombstones").fold(codes)(_ =>
      codes.join(broadcast(at(cat, p, "tombstones")), Seq("vec_id"),
        "left_anti"))
    replace(cat, "assign")(assign.withColumn("seg", lit("seg0")))
    replace(cat, "codes")(liveCodes.withColumn("seg", lit("seg0")))
    // the folded tombstone version stops being current, so the next
    // compaction's vacuum can age it out
    if (p.contains("tombstones")) cat.truncate("tombstones")
    publishIndex(cat, Seq("assign", "codes"), p - "tombstones")
    retain(cat, maintTables)
  }

  // ---- canonical maintained state -----------------------------------
  // The maintenance row and the recall gate share one lifecycle schedule
  // (base on vec_id%8≠0, delta = the held-out eighth, tombstones
  // vec_id%5=3). establishMaintained ALWAYS rebuilds it — that is what
  // x_ann_index_maintenance times — and publishes it with `index`'s
  // `canonical` prop true; ensureMaintained skips when the published
  // index says so, so the recall gate doesn't re-pay the base training
  // the maintenance row just performed in the same sweep (standalone it
  // builds). Every other publish sets the prop false (`publishIndex`),
  // so it can never claim canonical over a diverged index.

  /** Rebuild the canonical maintained state from scratch (build → append
    * → tombstones) and publish it as canonical. */
  def establishMaintained(s: SparkSession, dir: String): Unit =
    withMaintLock(dir) {
      val all = Tables.table(s, dir, "embeddings")
      buildBaseSegment(s, dir)
      appendSegment(s, dir, all.filter(pmod(col("vec_id"), lit(8)) === 0))
      writeTombstones(s, dir,
        all.filter(pmod(col("vec_id"), lit(5)) === 3))
      val cat = maintCatalog(s, dir)
      publishIndex(cat, Nil, pin(cat), canonical = true)
    }

  /** Establish the canonical maintained state only when the published
    * index isn't it already (same idempotence contract as ensureBuilt). */
  def ensureMaintained(s: SparkSession, dir: String): Unit =
    withMaintLock(dir) {
      val p = pin(maintCatalog(s, dir))
      if (!(p.get("layout").contains(IndexVersion) &&
          p.get("canonical").contains("true")))
        establishMaintained(s, dir)
    }

  /** Artifact summary for the build gate: per coarse cluster and per PQ
    * codebook entry, member counts and centroid norms (rounded 4) — the
    * content the DuckDB oracle replays from its own training chain. */
  def buildSummary(s: SparkSession, dir: String): DataFrame = {
    val normR4 = (c: String) => round(expr(
      s"aggregate(transform($c, x -> double(x) * double(x)), " +
        "cast(0 as double), (acc, v) -> acc + v)"), 4)
    val a = built(s, dir)
    val coarse = a("coarse_assign")
      .groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .join(a("coarse_centroids"), Seq("cid"))
      .select(lit("coarse").as("component"), col("cid").as("k1"),
        lit(-1).as("k2"), col("n"), normR4("centroid").as("norm_r4"))
    val pq = a("pq_codes")
      .groupBy(col("ss"), col("cid")).agg(count(lit(1)).as("n"))
      .join(a("pq_codebook"), Seq("ss", "cid"))
      .select(lit("pq").as("component"), col("ss").as("k1"),
        col("cid").as("k2"), col("n"), normR4("cen").as("norm_r4"))
    coarse.unionAll(pq)
      .orderBy(col("component"), col("k1"), col("k2"))
  }
}
