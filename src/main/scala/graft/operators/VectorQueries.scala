package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embeddings (extension suite).
  *
  * Two paths, as a production ANN pipeline would have:
  *  - brute-force cosine top-k: broadcast the (small) query set, scan the
  *    corpus once, per-partition top-k via window — the exact baseline;
  *  - LSH-bucketed: random-hyperplane bucket per vector (codegen'd
  *    expression, no model state), candidates only within the query's
  *    bucket. At 100 TB the corpus side stays partitioned, only the
  *    query set broadcasts, and the bucket join replaces the cross join.
  */
object VectorQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings")

  /** Brute-force exact cosine top-5 for 10 query vectors. */
  val bruteTopK: QueryDef = QueryDef(
    "x_ann_brute_topk",
    (s, dir) => {
      val corpus = emb(s, dir)
      val queries = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      corpus.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosineSim(col("q_emb"), col("embedding")).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("rk"), col("vec_id"), col("cos"))
        .orderBy(col("q_id"), col("rk"))
    },
    oracle = Some("""
      WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
                 WHERE vec_id < 10),
           scored AS (
             SELECT q.q_id, e.vec_id,
                    list_cosine_similarity(CAST(q.q_emb AS DOUBLE[]),
                                           CAST(e.embedding AS DOUBLE[])) AS cos
             FROM embeddings e CROSS JOIN q
             WHERE e.vec_id <> q.q_id),
           ranked AS (
             SELECT q_id, vec_id, cos,
                    row_number() OVER (PARTITION BY q_id
                                       ORDER BY cos DESC, vec_id) AS rk
             FROM scored)
      SELECT q_id, rk, vec_id, cos FROM ranked WHERE rk <= 5
      ORDER BY q_id, rk""")
  )

  /** L2 / dot-product scoring battery on a fixed pair set (id, id+1). */
  val distanceBattery: QueryDef = QueryDef(
    "x_ann_distances",
    (s, dir) => {
      val a = emb(s, dir).select(col("vec_id"), col("embedding").as("ea"))
      val b = emb(s, dir).select((col("vec_id") - 1).as("prev_id"),
        col("embedding").as("eb"))
      a.join(b, col("vec_id") === col("prev_id"))
        .select(col("vec_id"),
          dotProduct(col("ea"), col("eb")).as("dot"),
          l2Distance(col("ea"), col("eb")).as("l2"),
          cosineSim(col("ea"), col("eb")).as("cos"))
        .orderBy(col("vec_id"))
    },
    oracle = Some("""
      WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings)
      SELECT a.vec_id,
             list_dot_product(a.e, b.e) AS dot,
             list_distance(a.e, b.e) AS l2,
             list_cosine_similarity(a.e, b.e) AS cos
      FROM t a JOIN t b ON b.vec_id = a.vec_id + 1
      ORDER BY a.vec_id""")
  )

  /** Multi-table multiprobe LSH ANN: 4 independent tables × 8 hyperplanes,
    * probing each table at the query's bucket plus every bucket at hamming
    * distance 1 (9 probes × 4 tables). Candidate ids are deduped BEFORE
    * scoring, then each candidate is scored once against the query vector.
    * This is the IVF-style scale path: the corpus side stays partitioned,
    * only the probe list broadcasts, and recall comes from table diversity
    * rather than coarse single-table buckets; recall vs brute force is
    * asserted in VectorSpec. */
  val lshTopK: QueryDef = QueryDef(
    "x_ann_lsh_topk",
    (s, dir) => {
      val tables = 4
      // bucket granularity must track corpus density: 2^planes buckets per
      // table should be ~n/target_bucket_size, so planes ≈ log2(n) - 1 — at
      // the test corpus (500-2000 vectors) 8 planes keeps buckets at 2-8
      // members; a billion-vector corpus would use ~24. (16 planes here
      // gives singleton buckets and zero candidates on near-orthogonal
      // data.)
      val planes = 8
      val base = emb(s, dir)
      // ids only through the explode: (vec, table, bucket)
      val corpusBuckets = base.select(col("vec_id"),
          posexplode(array((0 until tables).map(t =>
            lshBucket(col("embedding"), planes, 42L + t)): _*)))
        .withColumnRenamed("pos", "tbl")
        .withColumnRenamed("col", "bucket")
      val queryEmb = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      // probe list per query: per table, the exact bucket + one-bit flips
      val probes = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"),
          posexplode(array((0 until tables).map(t =>
            lshBucket(col("embedding"), planes, 42L + t)): _*)))
        .withColumnRenamed("pos", "tbl")
        .withColumnRenamed("col", "q_bucket")
        .withColumn("probe", explode(array(
          (lit(0) +: (0 until planes).map(b => lit(1 << b))): _*)))
        .select(col("q_id"), col("tbl"),
          expr("int(q_bucket ^ probe)").as("probe_bucket"))
      val candIds = corpusBuckets
        .join(broadcast(probes),
          corpusBuckets("tbl") === probes("tbl") &&
            col("bucket") === col("probe_bucket"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"))
        .distinct()
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      candIds
        .join(base, Seq("vec_id"))
        .join(broadcast(queryEmb), Seq("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosineSim(col("q_emb"), col("embedding")).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("q_id"), col("rk"), col("vec_id"), col("cos"))
        .orderBy(col("q_id"), col("rk"))
    },
    // DuckDB rebuilds the multiprobe search bit-exactly: hyperplane weights
    // from murmur-mixed FNV of (plane, dim) over seed 42+table, bucket sign
    // bits and cosine scores via list_reduce ordered folds (identical IEEE
    // operation order to the Scala kernels), one-bit-flip probe expansion
    // via integer xor, then the same (cos DESC, vec_id) top-3 ranking.
    oracle = Some(LshOracleSql.weightsAndBuckets(tables = 4, planes = 8) + s""",
      probes AS (SELECT b.vec_id AS q_id, b.t,
                        xor(b.bucket, f.f) AS probe
                 FROM buckets b,
                      (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS f) f
                 WHERE b.vec_id < 10),
      cand AS (SELECT DISTINCT p.q_id, b.vec_id
               FROM buckets b
               JOIN probes p ON b.t = p.t AND b.bucket = p.probe
               WHERE b.vec_id <> p.q_id),
      cosed AS (SELECT c.q_id, c.vec_id,
${LshOracleSql.cosineExpr} AS cos
                FROM cand c
                JOIN e ea ON ea.vec_id = c.q_id
                JOIN e eb ON eb.vec_id = c.vec_id),
      ranked AS (SELECT q_id, vec_id, cos,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC, vec_id) AS rk
                 FROM cosed)
      SELECT q_id, rk, vec_id, cos FROM ranked WHERE rk <= 3
      ORDER BY q_id, rk""")
  )

  // ---- IVF / PQ / IVF+PQ — quantizer machinery lives in AnnIndex -------
  import AnnIndex.{coarseCentroids, coarseProbes, coarseReassign,
    coarseTrainTo, pqEncode, pqSubs, normalizedEmb,
    pqCodebookOf, pqTrainCodesTo, pqDtab, adcTopK, inlineScratch, l2sqExpr,
    materialize}

  /** IVF-style ANN: a coarse k-means quantizer (deterministic hash init +
    * 2 Lloyd iterations, centroids always broadcast — never a shuffle of
    * the corpus by centroid), then each query probes its `nprobe` nearest
    * centroids and scans only those inverted lists. This is the other
    * standard ANN scale path next to LSH (x_ann_lsh_topk): at 100 TB the
    * corpus stays partitioned, the k×64-float centroid table is the only
    * broadcast state, and candidate volume is corpus_size × nprobe / k.
    * Recall vs the exact brute-force baseline is asserted in
    * VectorTextSpec. */
  val ivfTopK: QueryDef = QueryDef(
    "x_ann_ivf_topk",
    (s, dir) => {
      val k = 16
      val nprobe = 4
      val iters = 2
      val base = emb(s, dir)
      val assign = coarseTrainTo(base, k, iters,
        materialize(_, inlineScratch(dir, "ivf_assign")))
      val cents = coarseCentroids(base, assign)
      val queries = base.filter(col("vec_id") < 10)
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
          cosineSim(col("q_emb"), col("embedding")).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("q_id"), col("rk"), col("vec_id"), col("cos"))
        .orderBy(col("q_id"), col("rk"))
    },
    // DuckDB replays the whole quantizer: fingerprint init, two Lloyd
    // iterations with float-rounded centroids, argmax/probe tie rules, and
    // the final exact-cosine top-k (see IvfOracleSql for the fidelity notes)
    oracle = Some(IvfOracleSql.sql(k = 16, nprobe = 4, iters = 2, topk = 3,
      nq = 10))
  )

  /** Product-quantization ANN (the compression-side scale path next to
    * IVF's pruning): vectors are L2-normalized, then the 64 dims split
    * into 16 subspaces of 4 dims (the standard PQ16x4 shape), each with
    * its own k=16 k-means codebook (deterministic fingerprint init +
    * 2 Lloyd iterations, argmin squared-L2, ties to smaller cid). A
    * corpus vector is then 16 nibble codes — at 100 TB that is the point:
    * the scan reads 8 code bytes/vector instead of 256 float bytes, and
    * scoring is ADC (asymmetric distance computation): the query
    * precomputes its distance to every codebook entry (m×k doubles,
    * broadcast), and each corpus vector's approximate distance is
    * d0+d1+…+d15 summed in fixed subspace order — no order-sensitive
    * aggregate anywhere, so the DuckDB oracle replays it bit-exactly.
    * On unit vectors squared-L2 = 2 − 2·cos, making the ADC ranking
    * rank-equivalent to the cosine brute baseline. Exact cosine of each
    * hit is emitted alongside; recall asserted in VectorTextSpec. */
  val pqTopK: QueryDef = QueryDef(
    "x_ann_pq_topk",
    (s, dir) => {
      val m = 16; val sub = 4; val k = 16; val iters = 2
      val topk = 3; val nq = 10
      val base = emb(s, dir)
      val subs = pqSubs(base, m, sub)
      val codes = pqTrainCodesTo(subs, sub, k, iters,
        materialize(_, inlineScratch(dir, "pq_codes")))
      val cents = pqCodebookOf(codes.join(subs, Seq("vec_id", "ss")), sub)
      val dtab = pqDtab(subs.filter(col("vec_id") < nq), cents)
      // PQ alone scans every corpus code per query (compression without
      // pruning); the join key (ss, cid) matches each vector's code to
      // its distance-table entry
      val pairs = codes
        .join(broadcast(dtab), Seq("ss", "cid"))
        .filter(col("vec_id") =!= col("q_id"))
      adcTopK(pairs, base, m, topk, nq)
    },
    // DuckDB replays the whole product quantizer: per-subspace k-means
    // with float-rounded codebooks, argmin/tie rules, the ADC distance
    // table, and the fixed-order d0+d1+d2+d3 sum (see PqOracleSql)
    oracle = Some(PqOracleSql.sql(m = 16, sub = 4, k = 16, iters = 2,
      topk = 3, nq = 10))
  )

  /** IVF+PQ — the composed production index (coarse pruning × code
    * compression, the FAISS IVFPQ shape): the coarse quantizer prunes
    * candidates to the query's nprobe inverted lists (corpus × nprobe/k
    * pairs), and each candidate is scored by the product quantizer's ADC
    * distance table instead of exact cosine. At 100 TB the scan side of
    * the scoring join is nprobe/k of the corpus at 8 code bytes/vector —
    * both reduction factors compose, and the only broadcast state is the
    * k×64-float centroid table plus the m×k-double query distance table.
    * Every stage (both k-means trainings, probe/argmin/argmax tie rules,
    * the fixed-order ADC sum) is deterministic, so the DuckDB oracle
    * replays the whole composed index bit-exactly. */
  val ivfpqTopK: QueryDef = QueryDef(
    "x_ann_ivfpq_topk",
    (s, dir) => {
      val k = 16; val nprobe = 4
      val m = 16; val sub = 4; val kpq = 16
      val iters = 2; val topk = 3; val nq = 10
      val base = emb(s, dir)
      // r16 (guide §2.6): the coarse and PQ trainings are independent
      // chains of short jobs — overlap them on two driver threads (same
      // rationale and safety argument as AnnIndex.build)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val coarseF = Future {
        coarseTrainTo(base, k, iters,
          materialize(_, inlineScratch(dir, "ivfpq_assign")))
      }
      val subs = pqSubs(base, m, sub)
      val codesF = Future {
        pqTrainCodesTo(subs, sub, kpq, iters,
          materialize(_, inlineScratch(dir, "ivfpq_codes")))
      }
      val coarse = Await.result(coarseF, Duration.Inf)
      val codes = Await.result(codesF, Duration.Inf)
      val coarseCents = coarseCentroids(base, coarse)
      val queries = base.filter(col("vec_id") < nq)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val probes = coarseProbes(queries, coarseCents, nprobe)
      val cands = coarse.join(broadcast(probes), Seq("cid"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"))
        .distinct()
      val cents = pqCodebookOf(codes.join(subs, Seq("vec_id", "ss")), sub)
      val dtab = pqDtab(subs.filter(col("vec_id") < nq), cents)
      val pairs = cands
        .join(codes, Seq("vec_id"))
        .join(broadcast(dtab), Seq("q_id", "ss", "cid"))
      adcTopK(pairs, base, m, topk, nq)
    },
    // DuckDB replays the composed index: the coarse chain's candidate
    // pairs feed the PQ chain's ADC tail (see IvfPqOracleSql)
    oracle = Some(IvfPqOracleSql.sql(k = 16, nprobe = 4, m = 16, sub = 4,
      kpq = 16, iters = 2, topk = 3, nq = 10))
  )

  /** Offline ANN index BUILD — the lifecycle split the 100 TB story
    * requires: index construction is a batch job that persists artifacts
    * (the extent-map analog: index state outlives the query), not a
    * query-time subtree. Trains both quantizers once via AnnIndex.build
    * and returns the artifact summary (per-cluster member counts +
    * centroid norms); the DuckDB oracle re-derives the same summary from
    * its own independent training replay, so the persisted artifacts are
    * content-verified, not just present. */
  val indexBuild: QueryDef = QueryDef(
    "x_ann_index_build",
    (s, dir) => {
      AnnIndex.build(s, dir)
      AnnIndex.buildSummary(s, dir)
    },
    oracle = Some(IvfPqOracleSql.buildSummarySql(k = 16, nprobe = 4, m = 16,
      sub = 4, kpq = 16, iters = 2, nq = 10))
  )

  /** IVF+PQ search over the PREBUILT index — the production query path:
    * reads the persisted centroids/assignment/codebook/codes artifacts,
    * so the plan is pure probe-pruning × ADC scoring with NO k-means
    * subtree (pinned in PlanSpec). Same results as the composed
    * x_ann_ivfpq_topk (the artifacts are the same deterministic
    * computation, persisted), hence the same bit-exact oracle. */
  val ivfpqIndexed: QueryDef = QueryDef(
    "x_ann_ivfpq_indexed",
    (s, dir) => {
      AnnIndex.ensureBuilt(s, dir)
      AnnIndex.ivfPqQuery(s, dir)
    },
    oracle = Some(IvfPqOracleSql.sql(k = 16, nprobe = 4, m = 16, sub = 4,
      kpq = 16, iters = 2, topk = 3, nq = 10))
  )

  /** Frozen-index INGEST — the third leg of the index lifecycle (build →
    * ingest → query): the quantizers train on the base corpus
    * (vec_id % 8 ≠ 0) and the held-out batch (vec_id % 8 = 0) is encoded
    * against the FROZEN centroids/codebook with no retraining — a pure
    * per-row map over broadcast artifacts, the ANN analog of
    * x_dedup_incremental's per-ingest cost. DuckDB replays the base-only
    * training chains (trainWhere-filtered) and the batch encode with the
    * same tie rules, so the appended rows are bit-checked. */
  val indexIngest: QueryDef = QueryDef(
    "x_ann_index_ingest",
    (s, dir) => {
      val all = emb(s, dir)
      val base = all.filter(pmod(col("vec_id"), lit(8)) =!= 0)
      val batch = all.filter(pmod(col("vec_id"), lit(8)) === 0)
      val assignB = AnnIndex.coarseTrainTo(base, 16, 2,
        materialize(_, inlineScratch(dir, "ingest_assign")))
      val centsB = coarseCentroids(base, assignB)
      val subsB = pqSubs(base, 16, 4)
      val codesB = pqTrainCodesTo(subsB, 4, 16, 2,
        materialize(_, inlineScratch(dir, "ingest_codes")))
      val bookB = pqCodebookOf(codesB.join(subsB, Seq("vec_id", "ss")), 4)
      AnnIndex.ingestEncode(batch, centsB, bookB)
    },
    oracle = Some(IvfPqOracleSql.ingestSql(k = 16, m = 16, sub = 4,
      kpq = 16, iters = 2))
  )

  /** STREAMING frozen-index ingest — the production arrival path for the
    * lifecycle's third leg: new vectors land on a file stream and encode
    * against the frozen coarse centroids / PQ codebook as two STATELESS
    * append streams (per-row argmax/argmin folds over broadcast artifact
    * arrays — no watermark, no state store, no shuffle; the exact shape
    * that absorbs a 100 TB/day embedding firehose). The batch readback
    * assembles (vec_id, cid, codes_csv) and must equal the batch ingest
    * bit-for-bit — same DuckDB oracle as x_ann_index_ingest. */
  val streamIngest: QueryDef = QueryDef(
    "x_stream_ann_ingest",
    (s, dir) => {
      val all = emb(s, dir)
      val base = all.filter(pmod(col("vec_id"), lit(8)) =!= 0)
      val assignB = AnnIndex.coarseTrainTo(base, 16, 2,
        materialize(_, inlineScratch(dir, "s_ing_assign")))
      val centsB = coarseCentroids(base, assignB)
      val subsB = pqSubs(base, 16, 4)
      val codesB = pqTrainCodesTo(subsB, 4, 16, 2,
        materialize(_, inlineScratch(dir, "s_ing_codes")))
      val bookB = pqCodebookOf(codesB.join(subsB, Seq("vec_id", "ss")), 4)
      val tmp = DdlDmlQueries.scratch("stream_ann_ingest")
      // freeze the tiny artifacts (16 centroids, 64 codebook rows) to
      // parquet ONCE and stream against the persisted copies: the
      // production arrival path encodes against artifacts a build job
      // persisted, not against live training lineage — and a stream
      // whose broadcast side is a training AGGREGATION re-evaluates it
      // per micro-batch (this query carried two such re-evaluations,
      // the bulk of its sweep-tail cost)
      centsB.write.mode("overwrite").parquet(s"$tmp/cents")
      bookB.write.mode("overwrite").parquet(s"$tmp/book")
      val centsF = s.read.parquet(s"$tmp/cents")
      val bookF = s.read.parquet(s"$tmp/book")
      all.filter(pmod(col("vec_id"), lit(8)) === 0)
        .repartition(4).write.mode("overwrite").parquet(s"$tmp/src")
      val schema = all.schema
      def startStream(out: String)(f: DataFrame => DataFrame) =
        f(s.readStream.schema(schema).parquet(s"$tmp/src"))
          .writeStream.outputMode("append").format("parquet")
          .option("path", s"$tmp/$out")
          .option("checkpointLocation", s"$tmp/cp_$out")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      // the two encode legs are independent subscribers of the same
      // arrival stream (separate checkpoints, stateless maps) — run
      // them CONCURRENTLY, as a deployment would; serially they were
      // the bulk of this entry's sweep-tail cost
      val q1 = startStream("coarse")(st => coarseReassign(st, centsF))
      val q2 = startStream("codes")(st =>
        pqEncode(pqSubs(st, 16, 4), bookF)
          .select(col("vec_id"), col("ss"), col("cid")))
      // a failure in either await must not LEAK the other query: an
      // orphaned active stream keeps writing under a scratch dir the
      // next rep wipes, and persists in the shared session
      try {
        q1.awaitTermination()
        q2.awaitTermination()
      } finally {
        if (q1.isActive) q1.stop()
        if (q2.isActive) q2.stop()
      }
      val codes = s.read.parquet(s"$tmp/codes")
        .groupBy(col("vec_id"))
        .agg(expr(
          "array_join(transform(sort_array(collect_list(struct(ss, cid))), "
            + "x -> cast(x.cid as string)), ',')").as("codes_csv"))
      s.read.parquet(s"$tmp/coarse")
        .join(codes, Seq("vec_id"))
        .select(col("vec_id"), col("cid"), col("codes_csv"))
        .orderBy(col("vec_id"))
    },
    oracle = Some(IvfPqOracleSql.ingestSql(k = 16, m = 16, sub = 4,
      kpq = 16, iters = 2))
  )

  /** Index MERGE — the fourth lifecycle leg (build → ingest → merge →
    * query): the frozen-encoded batch is absorbed into the index's
    * posting lists WITHOUT retraining — merged assignment and code
    * tables are plain unions (the FAISS `add`/IndexShards contract: new
    * vectors join the inverted lists their frozen encodes land in), the
    * probe side still reads the base centroids, and the query plan over
    * the merged index is the same probe-pruning × ADC shape as
    * x_ann_ivfpq_indexed. At 100 TB this is the nightly compaction that
    * folds a day of streaming ingest into the served index: cost is
    * O(batch) encode + an append, never a retrain; queries see the new
    * vectors in their top-k the moment the merged lists land (vec 8 and
    * its neighbors turn up in the results below). DuckDB replays
    * base-restricted training, the batch encode, the unions, and the
    * ADC tail over the merged lists bit-exactly. */
  /** Shared read path for the merge/delete lifecycle legs: trains on the
    * base corpus (vec_id % 8 ≠ 0), frozen-encodes the held-out batch,
    * unions the posting/code lists (the merge), optionally drops a
    * tombstone set from BOTH lists (the delete — applied at the
    * posting-list scan via a broadcast anti-join on the ids-only
    * assignment table, never as a post-filter on scored results), then
    * runs the standard probe-pruning × ADC top-k over what remains. */
  private def mergedIndexTopK(s: SparkSession, dir: String, tag: String,
      tomb: Option[org.apache.spark.sql.Column]): DataFrame = {
    val all = emb(s, dir)
    val base = all.filter(pmod(col("vec_id"), lit(8)) =!= 0)
    val batch = all.filter(pmod(col("vec_id"), lit(8)) === 0)
    val assignB = AnnIndex.coarseTrainTo(base, 16, 2,
      materialize(_, inlineScratch(dir, s"${tag}_assign")))
    val centsB = coarseCentroids(base, assignB)
    val subsB = pqSubs(base, 16, 4)
    val codesB = pqTrainCodesTo(subsB, 4, 16, 2,
      materialize(_, inlineScratch(dir, s"${tag}_codes")))
    val bookB = pqCodebookOf(codesB.join(subsB, Seq("vec_id", "ss")), 4)
    // frozen encodes of the batch (no retraining), then the merge:
    // plain unions of the posting/code lists
    val masg0 = assignB.select(col("vec_id"), col("cid"))
      .unionByName(coarseReassign(batch, centsB))
    val mcode0 = codesB.select(col("vec_id"), col("ss"), col("cid"))
      .unionByName(pqEncode(pqSubs(batch, 16, 4), bookB)
        .select(col("vec_id"), col("ss"), col("cid")))
    val (masg, mcode) = tomb match {
      case Some(pred) =>
        val ids = all.filter(pred).select(col("vec_id"))
        (masg0.join(broadcast(ids), Seq("vec_id"), "left_anti"),
          mcode0.join(broadcast(ids), Seq("vec_id"), "left_anti"))
      case None => (masg0, mcode0)
    }
    AnnIndex.ivfPqPlan(all, centsB, masg, bookB, mcode,
      nprobe = 4, topk = 3, nq = 10)
  }

  val indexMerge: QueryDef = QueryDef(
    "x_ann_index_merge",
    (s, dir) => mergedIndexTopK(s, dir, "merge", None),
    oracle = Some(IvfPqOracleSql.mergedSql(k = 16, nprobe = 4, m = 16,
      sub = 4, kpq = 16, iters = 2, topk = 3, nq = 10))
  )

  /** Index DELETE — the fifth lifecycle leg (build → ingest → merge →
    * DELETE → query): a tombstone set (vec_id % 5 = 3, cutting across
    * both base and ingested rows) is removed from the merged index by
    * editing the posting/code lists only — the FAISS remove_ids
    * contract: quantizers never retrain, surviving vectors keep their
    * exact codes and ADC scores, and deleted ids are pruned at the
    * posting-list scan (broadcast anti-join on the ids-only assignment
    * table) so they can never reach the scoring join, not filtered from
    * its output. At 100 TB this is GDPR/right-to-be-forgotten on a
    * served ANN index: O(tombstones) metadata edit, zero re-encoding,
    * queries reflect the deletion at the next list swap. DuckDB replays
    * the merged chains minus the tombstones bit-exactly. */
  val indexDelete: QueryDef = QueryDef(
    "x_ann_index_delete",
    (s, dir) => mergedIndexTopK(s, dir, "del",
      Some(pmod(col("vec_id"), lit(5)) === 3)),
    oracle = Some(IvfPqOracleSql.mergedSql(k = 16, nprobe = 4, m = 16,
      sub = 4, kpq = 16, iters = 2, topk = 3, nq = 10,
      tombWhere = "vec_id % 5 = 3"))
  )

  /** Index MAINTENANCE over PERSISTED artifacts — the production twin of
    * the composed merge/delete chains, in the segmented layout a serving
    * ANN system actually uses: `buildBaseSegment` persists the trained
    * base (seg0 + centroids/codebook), `appendSegment` frozen-encodes
    * the arriving batch into an immutable delta segment (O(batch) file
    * write, no retraining), `writeTombstones` lands the delete set as an
    * ids-only artifact (O(tombstones), no list rewrite), and the read
    * side (`maintQuery`) unions live segments minus tombstones into the
    * same probe-pruning × ADC plan — artifact reads only, no training
    * subtree (plan-pinned in VectorTextSpec, along with compaction
    * returning byte-identical results). Same bit-exact DuckDB oracle as
    * x_ann_index_delete: the segmented read must equal the composed
    * merged-minus-tombstones chain exactly. */
  val indexMaintenance: QueryDef = QueryDef(
    "x_ann_index_maintenance",
    (s, dir) => {
      // establishMaintained ALWAYS rebuilds (this entry times the real
      // build → append → tombstone path) and stamps the canonical-state
      // marker so the recall gate below can reuse the state in-sweep
      AnnIndex.establishMaintained(s, dir)
      AnnIndex.maintQuery(s, dir)
    },
    oracle = Some(IvfPqOracleSql.mergedSql(k = 16, nprobe = 4, m = 16,
      sub = 4, kpq = 16, iters = 2, topk = 3, nq = 10,
      tombWhere = "vec_id % 5 = 3"))
  )

  /** Recall gate for the MAINTAINED index — the quality number a
    * deployment re-checks after a delete wave: tombstoning a vector
    * silently shifts the ground truth (its former neighbors gain new
    * true top-k entries), so recall must be measured against brute
    * force over the LIVE set, not the original corpus. Runs the full
    * lifecycle (base build → delta append → tombstones), then compares
    * maintQuery's ADC top-3 with exact cosine top-3 over live vectors.
    * DuckDB replays index chains, brute force, and the intersection
    * bit-exactly. */
  val recallMaintained: QueryDef = QueryDef(
    "x_ann_recall_maintained",
    (s, dir) => {
      val all = emb(s, dir)
      // idempotent: reuses the canonical maintained state when it is
      // already live (the sweep runs the maintenance row first), else
      // builds it — either way the measured recall is identical
      AnnIndex.ensureMaintained(s, dir)
      val nq = 10; val topk = 3
      val queries = all.filter(col("vec_id") < nq)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val live = all.filter(pmod(col("vec_id"), lit(5)) =!= 3)
      val wB = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      val brute = live.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosineSim(col("q_emb"), col("embedding")).as("cos"))
        .withColumn("rk", row_number().over(wB))
        .filter(col("rk") <= topk)
        .select(col("q_id"), col("vec_id"))
      val approx = AnnIndex.maintQuery(s, dir, topk = topk, nq = nq)
        .select(col("q_id"), col("vec_id"))
        .withColumn("hit", lit(1L))
      brute.join(approx, Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .withColumn("recall_at_3",
          col("hits").cast("double") / col("n_true").cast("double"))
        .orderBy(col("q_id"))
    },
    oracle = Some(IvfPqOracleSql.maintainedRecallSql(k = 16, nprobe = 4,
      m = 16, sub = 4, kpq = 16, iters = 2, topk = 3, nq = 10,
      tombWhere = "vec_id % 5 = 3"))
  )

  /** Measured ANN quality gate: recall@3 of the prebuilt IVF index
    * (probe-pruned exact-cosine search over the persisted artifacts)
    * against the exact brute-force top-3 — the number a production ANN
    * deployment watches when it tunes nprobe/k, computed inside the
    * engine instead of asserted in a test. Both sides and the
    * intersection are deterministic, so the DuckDB oracle replays the
    * whole comparison bit-exactly. */
  val recallIvf: QueryDef = QueryDef(
    "x_ann_recall_ivf",
    (s, dir) => {
      AnnIndex.ensureBuilt(s, dir)
      val nq = 10; val topk = 3
      val base = emb(s, dir)
      val queries = base.filter(col("vec_id") < nq)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val wB = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      val brute = base.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosineSim(col("q_emb"), col("embedding")).as("cos"))
        .withColumn("rk", row_number().over(wB))
        .filter(col("rk") <= topk)
        .select(col("q_id"), col("vec_id"))
      val ivf = AnnIndex.ivfExactTopK(s, dir, topk = topk, nq = nq)
        .withColumn("hit", lit(1L))
      brute.join(ivf, Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .withColumn("recall_at_3",
          col("hits").cast("double") / col("n_true").cast("double"))
        .orderBy(col("q_id"))
    },
    oracle = Some(IvfOracleSql.recallSql(k = 16, nprobe = 4, iters = 2,
      topk = 3, nq = 10))
  )

  /** IVF nprobe tuning sweep — the recall side of the latency/recall
    * curve an ANN deployment tunes: recall@3 vs brute force at nprobe ∈
    * {1,2,4,8}, computed in one pass (probes ranked once to the max
    * nprobe, each sweep level filters the rank — candidate scoring work
    * is shared, exactly how a real sweep amortizes). Average recall per
    * level, rounded identically on both engines. */
  val nprobeSweep: QueryDef = QueryDef(
    "x_ann_nprobe_sweep",
    (s, dir) => {
      AnnIndex.ensureBuilt(s, dir)
      val nq = 10; val topk = 3; val maxProbe = 8
      val base = emb(s, dir)
      val built = AnnIndex.built(s, dir)
      val cents = built("coarse_centroids")
      val assign = built("coarse_assign")
      val queries = base.filter(col("vec_id") < nq)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val wp = Window.partitionBy(col("q_id"))
        .orderBy(col("qcos").desc, col("cid"))
      val probesRanked = queries.crossJoin(broadcast(cents))
        .select(col("q_id"), col("cid"),
          cosineSim(col("q_emb"), col("centroid")).as("qcos"))
        .withColumn("prk", row_number().over(wp))
        .filter(col("prk") <= maxProbe)
        .select(col("q_id"), col("cid"), col("prk"))
      val cands = assign.join(broadcast(probesRanked), Seq("cid"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("np", explode(expr("array(1, 2, 4, 8)")))
        .filter(col("prk") <= col("np"))
        .select(col("np"), col("q_id"), col("vec_id"))
        .distinct()
      val wR = Window.partitionBy(col("np"), col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      val ivf = cands.join(base, Seq("vec_id"))
        .join(broadcast(queries), Seq("q_id"))
        .select(col("np"), col("q_id"), col("vec_id"),
          cosineSim(col("q_emb"), col("embedding")).as("cos"))
        .withColumn("rk", row_number().over(wR))
        .filter(col("rk") <= topk)
        .select(col("np"), col("q_id"), col("vec_id"))
        .withColumn("hit", lit(1L))
      val wB = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      val brute = base.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosineSim(col("q_emb"), col("embedding")).as("cos"))
        .withColumn("rk", row_number().over(wB))
        .filter(col("rk") <= topk)
        .select(col("q_id"), col("vec_id"))
      brute
        .withColumn("np", explode(expr("array(1, 2, 4, 8)")))
        .join(ivf, Seq("np", "q_id", "vec_id"), "left")
        .groupBy(col("np"))
        .agg(countDistinct(col("q_id")).as("n_queries"),
          round(sum(coalesce(col("hit"), lit(0L))).cast("double") /
            count(lit(1)), 4).as("avg_recall"))
        .orderBy(col("np"))
    },
    oracle = Some(IvfOracleSql.sweepSql(k = 16, maxProbe = 8, iters = 2,
      topk = 3, nq = 10))
  )

  /** Centroid search: per-label mean vector (array aggregation via
    * element-wise avg), then each label's medoid-ish closest member —
    * exercises array aggregation at scale (zip_with + aggregate). */
  val centroids: QueryDef = QueryDef(
    "x_ann_centroids",
    (s, dir) => {
      val e = emb(s, dir)
      val dims = 64
      val sums = e.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          array((0 until dims).map(i =>
            sum(col("embedding").getItem(i))).toIndexedSeq: _*).as("sum_vec"))
        .select(col("label"), col("n"),
          expr("transform(sum_vec, v -> v / n)").as("centroid"))
      val withDist = e.join(broadcast(sums), Seq("label"))
        .select(col("label"), col("vec_id"), col("n"),
          cosineSim(col("embedding"), col("centroid").cast("array<float>"))
            .as("cos_to_centroid"))
      val w = Window.partitionBy(col("label"))
        .orderBy(col("cos_to_centroid").desc, col("vec_id"))
      withDist.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("label"), col("n"), col("rk"), col("vec_id"),
          col("cos_to_centroid"))
        .orderBy(col("label"), col("rk"))
    },
    // DuckDB rebuilds the same centroid: per-dim mean via unnest WITH
    // ORDINALITY, rounded through FLOAT to mirror the Spark side's
    // array<float> cast (which also absorbs partial-agg summation noise)
    oracle = Some("""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
                 FROM embeddings),
      ex AS (SELECT vec_id, label, unnest(emb) AS val,
                    unnest(range(1, len(emb) + 1)) AS idx
             FROM e),
      cen AS (SELECT label, idx, avg(val) AS c FROM ex GROUP BY label, idx),
      cvec AS (SELECT label,
                 CAST(CAST(list(c ORDER BY idx) AS FLOAT[]) AS DOUBLE[])
                   AS centroid
               FROM cen GROUP BY label),
      nn AS (SELECT label, count(*) AS n FROM e GROUP BY label),
      d AS (SELECT e.label, e.vec_id, nn.n,
                   list_cosine_similarity(e.emb, cvec.centroid)
                     AS cos_to_centroid
            FROM e JOIN cvec USING (label) JOIN nn USING (label)),
      r AS (SELECT *, row_number() OVER (PARTITION BY label
              ORDER BY cos_to_centroid DESC, vec_id) AS rk FROM d)
      SELECT label, n, rk, vec_id, cos_to_centroid
      FROM r WHERE rk <= 3 ORDER BY label, rk""")
  )

  /** Scalar-quantized (SQ8) ANN — the third classic compression path
    * next to PQ's codebooks and IVF's pruning (FAISS IndexScalarQuantizer
    * shape): per-dimension corpus min/max define a linear 8-bit grid,
    * every vector stores one byte code per dim (64 B instead of 256 B at
    * 100 TB), and scoring decodes against the broadcast (mn, mx) arrays
    * asymmetrically (query stays full-precision). Vectors L2-normalize
    * first so squared-L2 ranks like cosine. Everything is deterministic —
    * min/max are exact, the encode is floor(x + 0.5) integer math, and
    * the distance folds in ascending dim order — so the DuckDB oracle
    * replays the whole quantizer bit-exactly. Recall vs the brute
    * baseline asserted in VectorTextSpec. */
  val sq8TopK: QueryDef = QueryDef(
    "x_ann_sq8_topk",
    (s, dir) => {
      val dims = 64; val topk = 3; val nq = 10
      val base = emb(s, dir)
      // r16: same interpreted normalize chain as AnnIndex.normalizedEmb
      // had — one codegen'd kernel now serves both (bit-identical fold)
      val nrm = normalizedEmb(base)
      val stats = nrm.agg(
        array((1 to dims).map(i =>
          min(element_at(col("nemb"), i))).toIndexedSeq: _*).as("mn"),
        array((1 to dims).map(i =>
          max(element_at(col("nemb"), i))).toIndexedSeq: _*).as("mx"))
      val codes = nrm.crossJoin(broadcast(stats))
        .select(col("vec_id"), expr(s"""transform(sequence(1, $dims), i ->
          CAST(floor(CASE WHEN element_at(mx, i) > element_at(mn, i)
            THEN (element_at(nemb, i) - element_at(mn, i)) /
                 (element_at(mx, i) - element_at(mn, i)) * 255.0
            ELSE 0.0 END + 0.5) AS INT))""").as("codes"))
      val queries = nrm.filter(col("vec_id") < nq)
        .select(col("vec_id").as("q_id"), col("nemb").as("q_emb"))
      // decode depends only on (codes, stats): reconstruct each corpus
      // vector ONCE, before the per-query fan-out, not per (q, vec) pair
      val decoded = codes.crossJoin(broadcast(stats))
        .select(col("vec_id"), expr(s"""transform(sequence(1, $dims), i ->
          element_at(mn, i) + double(element_at(codes, i)) / 255.0 *
            (element_at(mx, i) - element_at(mn, i)))""").as("dvec"))
      val scored = decoded.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("approx_dist", l2sqExpr("q_emb", "dvec"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("approx_dist").asc, col("vec_id"))
      val qraw = base.filter(col("vec_id") < nq)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_raw"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= topk)
        .join(base.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .join(broadcast(qraw), Seq("q_id"))
        .select(col("q_id"), col("rk"), col("vec_id"), col("approx_dist"),
          cosineSim(col("q_raw"), col("embedding")).as("cos"))
        .orderBy(col("q_id"), col("rk"))
    },
    oracle = Some(s"""
      WITH ${AnnOracleCommon.erawCte},
      nrm AS (SELECT vec_id, list_transform(emb, x -> x /
                sqrt(list_reduce(list_transform(emb, v -> v * v),
                  (a, b) -> a + b))) AS nemb
              FROM eraw),
      dims AS (SELECT unnest(range(1, 65)) AS i),
      sd AS (SELECT d.i, min(n.nemb[d.i]) AS mn, max(n.nemb[d.i]) AS mx
             FROM nrm n CROSS JOIN dims d GROUP BY d.i),
      st AS (SELECT list(mn ORDER BY i) AS mn, list(mx ORDER BY i) AS mx
             FROM sd),
      codes AS (SELECT vec_id, list_transform(range(1, 65), i ->
          CAST(floor(CASE WHEN st.mx[i] > st.mn[i]
            THEN (n.nemb[i] - st.mn[i]) / (st.mx[i] - st.mn[i]) * 255.0
            ELSE 0.0 END + 0.5) AS INT)) AS codes
        FROM nrm n CROSS JOIN st),
      q AS (SELECT vec_id AS q_id, nemb AS q_emb FROM nrm
            WHERE vec_id < 10),
      sc AS (SELECT q.q_id, c.vec_id,
          list_reduce(list_transform(range(1, 65), i ->
            (q.q_emb[i] - (st.mn[i] + CAST(c.codes[i] AS DOUBLE) / 255.0
               * (st.mx[i] - st.mn[i])))
            * (q.q_emb[i] - (st.mn[i] + CAST(c.codes[i] AS DOUBLE) / 255.0
               * (st.mx[i] - st.mn[i])))),
            (x, y) -> x + y) AS approx_dist
        FROM codes c CROSS JOIN st CROSS JOIN q
        WHERE c.vec_id <> q.q_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY approx_dist ASC, vec_id) AS rk
            FROM sc)
      SELECT r.q_id, r.rk, r.vec_id, r.approx_dist,
             ${AnnOracleCommon.cos("qe.emb", "ve.emb")} AS cos
      FROM r
      JOIN eraw ve ON ve.vec_id = r.vec_id
      JOIN eraw qe ON qe.vec_id = r.q_id
      WHERE r.rk <= 3 ORDER BY r.q_id, r.rk""")
  )

  /** IVF+PQ with EXACT-COSINE RERANK — the standard production quality
    * knob on a PQ index (retrieve-then-rerank): the 8-byte ADC codes
    * pull a shortlist of 10 candidates per query (cheap, probe-pruned),
    * then ONLY those 10 are re-scored with the true cosine and the top 3
    * re-ranked. At 100 TB the exact pass touches nprobe/k of the corpus
    * codes plus 10 full vectors per query — ADC throughput with
    * near-exact quality; the full-vector fetch is a keyed join on the
    * shortlist ids, never a scan. The oracle replays the whole composed
    * index to the same shortlist, then the identical rerank. */
  val ivfpqRerank: QueryDef = QueryDef(
    "x_ann_ivfpq_rerank",
    (s, dir) => {
      AnnIndex.ensureBuilt(s, dir)
      val shortlist = AnnIndex.ivfPqQuery(s, dir, topk = 10)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      shortlist
        .withColumn("rk2", row_number().over(w))
        .filter(col("rk2") <= 3)
        .select(col("q_id"), col("rk2").as("rk"), col("vec_id"), col("cos"))
        .orderBy(col("q_id"), col("rk"))
    },
    oracle = Some(s"""
      SELECT q_id, CAST(rk2 AS INT) AS rk, vec_id, cos FROM (
        SELECT q_id, vec_id, cos,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cos DESC, vec_id) AS rk2
        FROM (${IvfPqOracleSql.sql(k = 16, nprobe = 4, m = 16, sub = 4,
          kpq = 16, iters = 2, topk = 10, nq = 10)}) t)
      WHERE rk2 <= 3 ORDER BY q_id, rk2""")
  )

  /** Metadata-FILTERED vector search (see AnnIndex.ivfPqQueryFiltered):
    * each query retrieves only same-label candidates — the tenant/
    * category scoping every production ANN service exposes, applied as a
    * PREFILTER on the probe-pruned candidate ids before any ADC scoring.
    * The oracle replays the composed index with the label equi-join
    * spliced between candidate generation and the ADC tail. */
  val filteredSearch: QueryDef = QueryDef(
    "x_ann_filtered",
    (s, dir) => {
      AnnIndex.ensureBuilt(s, dir)
      AnnIndex.ivfPqQueryFiltered(s, dir)
    },
    oracle = Some(s"""
      WITH ${IvfOracleSql.coreCtes(16, 4, 2, 10)},
      ${PqOracleSql.coreCtes(16, 4, 16, 2, 10)},
      fcand AS (SELECT c.q_id, c.vec_id
                FROM kcand c
                  JOIN embeddings e ON e.vec_id = c.vec_id
                  JOIN embeddings q ON q.vec_id = c.q_id
                WHERE e.label = q.label),
      ${PqOracleSql.adcTail(16, 2, 3, "fcand")}""")
  )

  /** RANGE search (radius query): every corpus vector within cosine ≥
    * 0.30 of each query (≈ the p99 of this synthetic corpus's pair
    * similarity — the radius that returns the genuine neighbor tail) — the "find ALL near-duplicates" complement to
    * top-k (k truncates; a dedup or recall-audit pass must not). Exact
    * one-pass scan × broadcast query set, same shape as brute top-k but
    * with a threshold filter instead of a rank window — no sort at all.
    * At 100 TB the IVF probe prefilter (x_ann_filtered's candidate
    * stage) bounds the scan; the threshold filter is unchanged. */
  val rangeSearch: QueryDef = QueryDef(
    "x_ann_range_search",
    (s, dir) => {
      val base = emb(s, dir)
      val queries = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      base.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosineSim(col("q_emb"), col("embedding")).as("cos"))
        .filter(col("cos") >= 0.30)
        .orderBy(col("q_id"), col("vec_id"))
    },
    oracle = Some(s"""
      WITH ${AnnOracleCommon.erawCte}
      SELECT q.vec_id AS q_id, v.vec_id,
             ${AnnOracleCommon.cos("q.emb", "v.emb")} AS cos
      FROM eraw q JOIN eraw v ON v.vec_id <> q.vec_id
      WHERE q.vec_id < 10
        AND ${AnnOracleCommon.cos("q.emb", "v.emb")} >= 0.30
      ORDER BY q_id, v.vec_id""")
  )

  /** Contrastive triplet mining over the labeled embedding corpus — for
    * each anchor (vec_id < 20): the positive is its nearest same-label
    * neighbor, the hard negative its nearest OTHER-label neighbor (the
    * highest-cosine impostor — exactly the pair contrastive/metric-
    * learning training wants), and the margin pos−neg says how hard the
    * anchor is (negative margin = an impostor sits closer than any
    * true neighbor).
    *
    * Scale shape: anchors broadcast against the corpus scan (same shape
    * as brute top-k); both argmaxes come from one window rank partitioned
    * by (anchor, same-label side), so the corpus is scored once, not
    * twice. Cosines come from the codegen'd fixed-order kernel, so the
    * argmax is deterministic and the oracle replays it bit-exactly. */
  val triplets: QueryDef = QueryDef(
    "x_ann_triplets",
    (s, dir) => {
      val corpus = emb(s, dir)
      val anchors = corpus.filter(col("vec_id") < 20)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
          col("label").as("a_label"))
      val scored = corpus.crossJoin(broadcast(anchors))
        .filter(col("vec_id") =!= col("a_id"))
        .select(col("a_id"), col("a_label"), col("vec_id"), col("label"),
          (col("label") === col("a_label")).as("same"),
          cosineSim(col("a_emb"), col("embedding")).as("cos"))
      val w = Window.partitionBy(col("a_id"), col("same"))
        .orderBy(col("cos").desc, col("vec_id"))
      val best = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
      val pos = best.filter(col("same"))
        .select(col("a_id"), col("a_label"), col("vec_id").as("pos_id"),
          col("cos").as("pos_cos"))
      val neg = best.filter(!col("same"))
        .select(col("a_id"), col("vec_id").as("neg_id"),
          col("cos").as("neg_cos"))
      pos.join(neg, Seq("a_id"))
        .select(col("a_id"), col("a_label"), col("pos_id"), col("pos_cos"),
          col("neg_id"), col("neg_cos"),
          round(col("pos_cos") - col("neg_cos"), 4).as("margin"))
        .orderBy(col("a_id"))
    },
    oracle = Some("""
      WITH a AS (SELECT vec_id AS a_id, embedding AS a_emb,
                   label AS a_label
                 FROM embeddings WHERE vec_id < 20),
      scored AS (SELECT a.a_id, a.a_label, e.vec_id,
                   e.label = a.a_label AS same,
                   list_cosine_similarity(CAST(a.a_emb AS DOUBLE[]),
                     CAST(e.embedding AS DOUBLE[])) AS cos
                 FROM embeddings e CROSS JOIN a
                 WHERE e.vec_id <> a.a_id),
      best AS (SELECT * FROM (
                 SELECT a_id, a_label, vec_id, same, cos,
                   row_number() OVER (PARTITION BY a_id, same
                     ORDER BY cos DESC, vec_id) AS rk
                 FROM scored) WHERE rk = 1),
      pos AS (SELECT a_id, a_label, vec_id AS pos_id, cos AS pos_cos
              FROM best WHERE same),
      neg AS (SELECT a_id, vec_id AS neg_id, cos AS neg_cos
              FROM best WHERE NOT same)
      SELECT p.a_id, p.a_label, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos,
             round(p.pos_cos - n.neg_cos, 4) AS margin
      FROM pos p JOIN neg n USING (a_id) ORDER BY p.a_id""")
  )

  /** Matryoshka-style dimension truncation sweep — the read-bandwidth
    * lever of the ANN toolbox: score with only the first d dims of each
    * embedding (MRL-trained models front-load information, so prefixes
    * are usable embeddings) and measure recall@3 against the full-64-dim
    * exact top-3 at d ∈ {8, 16, 32}.
    *
    * Scale shape: at 100 TB the truncated scan reads d/64 of the vector
    * bytes — with a columnar layout that stores prefix slices separately
    * this is a plain column-pruning win, and d doubles as the rerank
    * ladder (score at d=8, rerank survivors at 64). All three sweep
    * levels share ONE corpus×query pass (the dims explode happens after
    * the join, like the nprobe sweep shares its candidate scoring), and
    * the slice feeds the same codegen'd cosine kernel, so the argsort is
    * deterministic and DuckDB replays it bit-exactly. */
  val mrlTruncate: QueryDef = QueryDef(
    "x_ann_mrl_truncate",
    (s, dir) => {
      val nq = 10; val topk = 3
      val base = emb(s, dir)
      val queries = base.filter(col("vec_id") < nq)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val wB = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      val truth = base.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosineSim(col("q_emb"), col("embedding")).as("cos"))
        .withColumn("rk", row_number().over(wB))
        .filter(col("rk") <= topk)
        .select(col("q_id"), col("vec_id"))
      val wT = Window.partitionBy(col("dims"), col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      val trunc = base.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("dims", explode(array(lit(8), lit(16), lit(32))))
        .select(col("dims"), col("q_id"), col("vec_id"),
          cosineSim(slice(col("q_emb"), lit(1), col("dims")),
            slice(col("embedding"), lit(1), col("dims"))).as("cos"))
        .withColumn("rk", row_number().over(wT))
        .filter(col("rk") <= topk)
        .select(col("dims"), col("q_id"), col("vec_id"),
          lit(1L).as("hit"))
      truth
        .withColumn("dims", explode(array(lit(8), lit(16), lit(32))))
        .join(trunc, Seq("dims", "q_id", "vec_id"), "left")
        .groupBy(col("dims"))
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .withColumn("recall_at_3",
          col("hits").cast("double") / col("n_true").cast("double"))
        .orderBy(col("dims"))
    },
    oracle = Some("""
      WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
                 WHERE vec_id < 10),
      truth AS (SELECT q_id, vec_id FROM (
          SELECT q.q_id, e.vec_id,
            row_number() OVER (PARTITION BY q.q_id ORDER BY
              list_cosine_similarity(CAST(q.q_emb AS DOUBLE[]),
                CAST(e.embedding AS DOUBLE[])) DESC, e.vec_id) AS rk
          FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id)
        WHERE rk <= 3),
      d AS (SELECT unnest([8, 16, 32]) AS dims),
      tr AS (SELECT dims, q_id, vec_id FROM (
          SELECT d.dims, q.q_id, e.vec_id,
            row_number() OVER (PARTITION BY d.dims, q.q_id ORDER BY
              list_cosine_similarity(CAST(q.q_emb[1:d.dims] AS DOUBLE[]),
                CAST(e.embedding[1:d.dims] AS DOUBLE[])) DESC,
              e.vec_id) AS rk
          FROM embeddings e CROSS JOIN q CROSS JOIN d
          WHERE e.vec_id <> q.q_id) WHERE rk <= 3),
      tx AS (SELECT d.dims, t.q_id, t.vec_id FROM truth t CROSS JOIN d)
      SELECT tx.dims, count(*) AS n_true,
             CAST(sum(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS hits,
             CAST(sum(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_at_3
      FROM tx LEFT JOIN tr ON tr.dims = tx.dims AND tr.q_id = tx.q_id
                          AND tr.vec_id = tx.vec_id
      GROUP BY tx.dims ORDER BY tx.dims""")
  )

  /** Index STALENESS monitor — the fourth leg of the index lifecycle
    * (build → ingest → query → REBUILD?): as frozen-index ingest batches
    * accumulate, the data distribution drifts away from the one the
    * coarse quantizer was trained on, probe pruning degrades, and the
    * operational question is WHEN to pay for retraining. This op answers
    * it with numbers: assign the training corpus and the ingest batch to
    * the same frozen centroids and report per-cluster occupancy shares
    * plus the add-one-smoothed PSI contribution — the same drift statistic
    * x_pipeline_drift_psi applies to features, here applied to the
    * index's own cluster histogram. A spiking psi_term pinpoints WHICH
    * clusters absorb the new mass.
    *
    * Scale shape: both assignments are shuffle-free broadcast-argmax maps
    * (coarseReassign); the report aggregates to k=16 rows. The empty-
    * cluster spine keeps dead centroids visible — at 100 TB a centroid
    * that captures none of the new data is itself a rebuild signal. */
  val centroidDrift: QueryDef = QueryDef(
    "x_ann_centroid_drift",
    (s, dir) => {
      val all = emb(s, dir)
      val base = all.filter(pmod(col("vec_id"), lit(8)) =!= 0)
      val batch = all.filter(pmod(col("vec_id"), lit(8)) === 0)
      val assignB = AnnIndex.coarseTrainTo(base, 16, 2,
        materialize(_, inlineScratch(dir, "drift_assign")))
      val cents = coarseCentroids(base, assignB)
      val nb = coarseReassign(base, cents).groupBy(col("cid"))
        .agg(count(lit(1)).as("nb"))
      val nn = coarseReassign(batch, cents).groupBy(col("cid"))
        .agg(count(lit(1)).as("nn"))
      val spine = s.range(16).select(col("id").as("cid"))
      // occupancy totals are plain aggs broadcast back over the 16-row
      // spine — no constant-partition window (Catalyst folds those to an
      // empty partition spec, i.e. a single-partition WindowExec)
      val occ = spine.join(nb, Seq("cid"), "left")
        .join(nn, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("nb"), lit(0L)).as("n_base"),
          coalesce(col("nn"), lit(0L)).as("n_new"))
      val tots = occ.agg(sum(col("n_base")).as("tb"),
        sum(col("n_new")).as("tn"))
      occ.crossJoin(broadcast(tots))
        .withColumn("share_base", (col("n_base") + 1).cast("double") /
          (col("tb") + 16).cast("double"))
        .withColumn("share_new", (col("n_new") + 1).cast("double") /
          (col("tn") + 16).cast("double"))
        .drop("tb", "tn")
        .withColumn("psi_term", round((col("share_new") - col("share_base"))
          * log(col("share_new") / col("share_base")), 8))
        .orderBy(col("cid"))
    },
    oracle = Some(s"""
      WITH ${IvfOracleSql.coreCtes(16, 4, 2, 10, "vec_id % 8 <> 0")},
      basea AS (SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${AnnOracleCommon.cos("e.emb", "c.cen")} DESC,
                c.cid DESC) AS rk
          FROM eraw e CROSS JOIN kc3v c WHERE e.vec_id % 8 <> 0)
        WHERE rk = 1),
      newa AS (SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${AnnOracleCommon.cos("e.emb", "c.cen")} DESC,
                c.cid DESC) AS rk
          FROM eraw e CROSS JOIN kc3v c WHERE e.vec_id % 8 = 0)
        WHERE rk = 1),
      nb AS (SELECT cid, count(*) AS n FROM basea GROUP BY cid),
      nn AS (SELECT cid, count(*) AS n FROM newa GROUP BY cid),
      spine AS (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS cid),
      jj AS (SELECT s.cid, coalesce(nb.n, 0) AS n_base,
               coalesce(nn.n, 0) AS n_new
             FROM spine s LEFT JOIN nb USING (cid) LEFT JOIN nn USING (cid)),
      tt AS (SELECT cid, n_base, n_new,
               CAST(n_base + 1 AS DOUBLE) /
                 CAST((SELECT sum(n_base) FROM jj) + 16 AS DOUBLE)
                 AS share_base,
               CAST(n_new + 1 AS DOUBLE) /
                 CAST((SELECT sum(n_new) FROM jj) + 16 AS DOUBLE)
                 AS share_new
             FROM jj)
      SELECT cid, n_base, n_new, share_base, share_new,
             round((share_new - share_base) * ln(share_new / share_base), 8)
               AS psi_term
      FROM tt ORDER BY cid""")
  )

  /** RESIDUAL-encoding IVF+PQ — the FAISS IVFPQ default, and the accuracy
    * upgrade over x_ann_ivfpq_topk's direct encoding: the product
    * quantizer trains on residuals r = nemb − ncen(assigned cluster)
    * rather than raw normalized vectors. Residuals concentrate near the
    * origin (the coarse quantizer has already explained the cluster
    * direction), so the same 16 codewords per subspace quantize them far
    * more densely — same code bytes, less quantization error. The query
    * side builds one ADC table PER PROBED CLUSTER (the query's residual
    * differs per cluster), nprobe × m × k doubles per query.
    *
    * Scale shape: identical to the composed IVF+PQ — candidates are
    * nprobe/k of the corpus at 8 code bytes/vector; the extra residual
    * subtraction is a per-row map against the 16-row broadcast
    * normalized-centroid table; the per-probe ADC tables are still one
    * small broadcast. Every stage deterministic → bit-exact oracle.
    *
    * Honesty note: on THIS testdata (near-orthogonal random vectors,
    * no cluster structure) measured recall@3 is on par with the direct
    * encoding (7 vs 8 of 30) — the residual win materializes on real
    * clustered embeddings, where ‖r‖ ≪ ‖x‖. */
  val pqResidualTopK: QueryDef = QueryDef(
    "x_ann_pq_residual_topk",
    (s, dir) => {
      val k = 16; val nprobe = 4
      val m = 16; val sub = 4; val kpq = 16
      val iters = 2; val topk = 3; val nq = 10
      val base = emb(s, dir)
      val coarse = coarseTrainTo(base, k, iters,
        materialize(_, inlineScratch(dir, "respq_assign")))
      val coarseCents = coarseCentroids(base, coarse)
      // shared with the persisted-index path (AnnIndex.build /
      // ivfPqResidualQuery) — one derivation, bit-identical both ways
      val ncen = AnnIndex.normCentroids(coarseCents)
      val resSubs = AnnIndex.residualSubs(base, coarse, coarseCents, m, sub)
      val codes = pqTrainCodesTo(resSubs, sub, kpq, iters,
        materialize(_, inlineScratch(dir, "respq_codes")))
      val book = pqCodebookOf(codes.join(resSubs, Seq("vec_id", "ss")), sub)
      val queries = base.filter(col("vec_id") < nq)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val probes = coarseProbes(queries, coarseCents, nprobe)
      val rdtab = AnnIndex.residualDtab(base, probes, ncen, book,
        m, sub, nq)
      val cands = coarse.join(broadcast(probes), Seq("cid"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), col("cid").as("pcid"))
      val pairs = cands.join(codes, Seq("vec_id"))
        .join(broadcast(rdtab), Seq("q_id", "pcid", "ss", "cid"))
      adcTopK(pairs, base, m, topk, nq)
    },
    oracle = Some(ResidualPqOracleSql.sql(k = 16, nprobe = 4, m = 16,
      sub = 4, kpq = 16, iters = 2, topk = 3, nq = 10))
  )

  /** Residual IVF+PQ search over the PREBUILT index — the indexed twin
    * of x_ann_pq_residual_topk, closing the round-6 symmetry gap: the
    * residual codebook and codes are persisted artifacts of
    * AnnIndex.build (sharing the one coarse training with the direct
    * encoding), so the query plan is pure probe-pruning × per-probe
    * residual ADC with NO k-means subtree (pinned in VectorTextSpec).
    * Same deterministic training → same results → same bit-exact oracle
    * as the composed query. */
  val pqResidualIndexed: QueryDef = QueryDef(
    "x_ann_pq_residual_indexed",
    (s, dir) => {
      AnnIndex.ensureBuilt(s, dir)
      AnnIndex.ivfPqResidualQuery(s, dir)
    },
    oracle = Some(ResidualPqOracleSql.sql(k = 16, nprobe = 4, m = 16,
      sub = 4, kpq = 16, iters = 2, topk = 3, nq = 10))
  )

  /** MRL two-stage retrieve-then-rerank — the production use of the
    * truncation sweep: score the corpus with only the FIRST 8 dims
    * (1/8 of the vector bytes — at 100 TB this stage reads a prefix
    * column), keep a 10-deep shortlist, then rerank ONLY the shortlist
    * with full-64-dim exact cosine. The same shape as the ADC rerank
    * (x_ann_ivfpq_rerank) with dimension truncation as the cheap stage
    * instead of code compression.
    *
    * Scale shape: the shortlist window ranks (q_id, vec_id, prefix-cos)
    * triples — full vectors never enter the shuffle; the rerank re-joins
    * the 10·|queries| shortlisted ids back to the corpus BY KEY to read
    * their full vectors. */
  val mrlRerank: QueryDef = QueryDef(
    "x_ann_mrl_rerank",
    (s, dir) => {
      val nq = 10; val shortlist = 10; val topk = 3; val d = 8
      val base = emb(s, dir)
      val queries = base.filter(col("vec_id") < nq)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val wS = Window.partitionBy(col("q_id"))
        .orderBy(col("dcos").desc, col("vec_id"))
      val short = base.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosineSim(slice(col("q_emb"), lit(1), lit(d)),
            slice(col("embedding"), lit(1), lit(d))).as("dcos"))
        .withColumn("srk", row_number().over(wS))
        .filter(col("srk") <= shortlist)
        .select(col("q_id"), col("vec_id"))
      val wR = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      short.join(base, Seq("vec_id"))
        .join(broadcast(queries), Seq("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosineSim(col("q_emb"), col("embedding")).as("cos"))
        .withColumn("rk", row_number().over(wR))
        .filter(col("rk") <= topk)
        .select(col("q_id"), col("rk"), col("vec_id"), col("cos"))
        .orderBy(col("q_id"), col("rk"))
    },
    oracle = Some("""
      WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
                 WHERE vec_id < 10),
      short AS (SELECT q_id, vec_id FROM (
          SELECT q.q_id, e.vec_id,
            row_number() OVER (PARTITION BY q.q_id ORDER BY
              list_cosine_similarity(CAST(q.q_emb[1:8] AS DOUBLE[]),
                CAST(e.embedding[1:8] AS DOUBLE[])) DESC, e.vec_id) AS srk
          FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id)
        WHERE srk <= 10),
      rer AS (SELECT s.q_id, s.vec_id,
                list_cosine_similarity(CAST(q.q_emb AS DOUBLE[]),
                  CAST(e.embedding AS DOUBLE[])) AS cos
              FROM short s
              JOIN embeddings e ON e.vec_id = s.vec_id
              JOIN q ON q.q_id = s.q_id),
      ranked AS (SELECT q_id, vec_id, cos,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY cos DESC, vec_id) AS rk
                 FROM rer)
      SELECT q_id, CAST(rk AS INT) AS rk, vec_id, cos FROM ranked
      WHERE rk <= 3
      ORDER BY q_id, rk""")
  )

  /** Out-of-distribution detection over the trained coarse quantizer —
    * the embedding-quality gate a pipeline runs before vectors enter the
    * index: a vector whose BEST centroid cosine is still low sits far
    * from every mode of the corpus (corrupt embedding, wrong model
    * version, genuine novelty) and would both search badly and poison
    * incremental centroid updates. Reports every vector under the
    * τ = 0.25 best-cosine threshold with its nearest centroid — the
    * quarantine list.
    *
    * Scale shape: one broadcast-argmax map over the scan (the same
    * shuffle-free coarseReassign shape), a threshold filter, and a
    * small ranked output. No shuffle touches the vectors. */
  val oodDetection: QueryDef = QueryDef(
    "x_ann_ood_detection",
    (s, dir) => {
      val base = emb(s, dir)
      val assign = AnnIndex.coarseTrainTo(base, 16, 2,
        materialize(_, inlineScratch(dir, "ood_assign")))
      val cents = coarseCentroids(base, assign)
      val carr = cents.groupBy()
        .agg(sort_array(collect_list(struct(col("cid"), col("centroid"))))
          .as("carr"))
      base.crossJoin(broadcast(carr))
        // r16: the interpreted struct-fold argmax (aggregate over
        // transform(carr, …) — never codegens) decomposes into the two
        // codegen'd kernels with identical accumulation order, init and
        // `>=`-keeps-larger-cid tie rule: ARGMAX_COSINE for the cid,
        // MAX_COSINE for the value (VectorKernels.maxCosine scaladoc)
        .select(col("vec_id"),
          graft.functions.VectorFunctions.argmaxCosine(
            col("embedding"), col("carr")).as("nearest_cid"),
          round(graft.functions.VectorFunctions.maxCosine(
            col("embedding"), col("carr")), 6).as("best_cos"))
        .filter(col("best_cos") < 0.25)
        .orderBy(col("vec_id"))
    },
    oracle = Some(s"""
      WITH ${IvfOracleSql.coreCtes(16, 4, 2, 10)},
      best AS (SELECT vec_id, cid, ccos FROM (
          SELECT e.vec_id, c.cid,
            ${AnnOracleCommon.cos("e.emb", "c.cen")} AS ccos,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${AnnOracleCommon.cos("e.emb", "c.cen")} DESC,
                c.cid DESC) AS rk
          FROM eraw e CROSS JOIN kc3v c) WHERE rk = 1)
      SELECT vec_id, CAST(cid AS INTEGER) AS nearest_cid,
             round(ccos, 6) AS best_cos
      FROM best WHERE round(ccos, 6) < 0.25
      ORDER BY vec_id""")
  )

  def defs: Seq[QueryDef] = Seq(bruteTopK, distanceBattery, lshTopK, ivfTopK,
    pqTopK, ivfpqTopK, indexBuild, ivfpqIndexed, indexIngest, streamIngest,
    indexMerge, indexDelete, indexMaintenance, recallMaintained,
    recallIvf, nprobeSweep, centroids, sq8TopK, ivfpqRerank, filteredSearch,
    rangeSearch, triplets, mrlTruncate, centroidDrift, pqResidualTopK,
    pqResidualIndexed, mrlRerank, oodDetection)
}
