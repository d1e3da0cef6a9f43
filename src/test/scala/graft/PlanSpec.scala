package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the plans must be the ones we'd want at
  * 100 TB — pushed filters, pruned scans, broadcast dims, top-k heaps,
  * partial aggregation, whole-stage codegen over custom expressions. */
class PlanSpec extends GraftSuite {

  private def planOf(df: DataFrame): String = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan.toString
  }
  private def formatted(df: DataFrame): String = {
    import org.apache.spark.sql.execution.debug._
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("spread redistributes under-split inputs and is the identity above") {
    // the scale-adaptive compute spread (Tables.spread): a single-split
    // scan fans out to the session's parallelism; an input that already
    // yields >= cores partitions passes through UNCHANGED (the 100 TB
    // case — no payload exchange is ever added at scale)
    val target = spark.sparkContext.defaultParallelism
    val single = Tables.table(spark, sf, "lineitem").select(col("l_orderkey"))
    assert(single.rdd.getNumPartitions < target,
      "precondition: bench scan should be under-split")
    val spreaded = Tables.spread(single, col("l_orderkey"))
    assert(spreaded.rdd.getNumPartitions == target)
    assert(spreaded.count() == single.count())
    val wide = single.repartition(target + 1, col("l_orderkey"))
    // eq comparison: identity means the SAME DataFrame back, no new node
    assert(Tables.spread(wide, col("l_orderkey")) eq wide)
  }

  test("q06 filters push into the parquet scan") {
    val plan = formatted(operators.TpchQueries.q06.run(spark, sf))
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("IsNotNull(l_discount)") ||
      plan.contains("GreaterThanOrEqual(l_shipdate"), plan)
  }

  test("projection prunes the read schema to referenced columns") {
    val plan = formatted(
      operators.FilterQueries.pruneProject.run(spark, sf))
    val readSchema = plan.linesIterator
      .find(_.trim.startsWith("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") &&
      readSchema.contains("l_extendedprice"), readSchema)
    assert(!readSchema.contains("l_comment") &&
      !readSchema.contains("l_shipdate"), readSchema)
  }

  test("dimension joins broadcast; fact-fact joins do not") {
    val plan = planOf(operators.TpchQueries.q05.run(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("part joins are threshold-driven, not hint-forced (q14/q16/q19)") {
    // part scales with SF — a forced broadcast would OOM at SF100. The
    // analyzed plan must carry no join hints; the small-SF broadcast here
    // must come from autoBroadcastJoinThreshold/AQE alone.
    for (q <- Seq(operators.TpchQueries.q14, operators.TpchQueries.q16,
        operators.TpchQueries.q19)) {
      val df = q.run(spark, sf)
      val analyzed = df.queryExecution.analyzed.toString
      assert(!analyzed.contains("ResolvedHint"),
        s"${q.name} still carries a join hint:\n$analyzed")
      // at sf0.001 the threshold should still choose broadcast for part
      assert(planOf(df).contains("BroadcastHashJoin"), q.name)
    }
  }

  test("q19 pushes the part-only predicate component into the part scan") {
    val plan = formatted(operators.TpchQueries.q19.run(spark, sf))
    val pushed = plan.linesIterator
      .filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("p_brand") && pushed.contains("p_size"), plan)
  }

  test("top-k plans as TakeOrderedAndProject (bounded heap)") {
    val plan = operators.SortLimitQueries.topK.run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("aggregation is two-phase (partial + final)") {
    val plan = planOf(operators.TpchQueries.q01.run(spark, sf))
    assert(plan.contains("partial_sum") || plan.contains("partial"),
      plan)
  }

  test("custom vector expressions run inside whole-stage codegen") {
    val df = Tables.table(spark, sf, "embeddings")
      .select(graft.functions.VectorFunctions
        .cosineSim(col("embedding"), col("embedding")).as("c"))
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark operators fused into a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [cosine_sim"), plan)
    // and it actually evaluates correctly through codegen
    assert(df.agg(min(col("c"))).collect()(0).getDouble(0) > 0.999)
  }

  test("bucketed join runs without exchanging the join key") {
    // disable broadcast so the test exercises the big×big path bucketing
    // exists for (at sf0.001 Catalyst would rightly broadcast the dim side)
    // planning happens at action time against the live conf, so the
    // override need only cover planOf
    val df = operators.DdlDmlQueries.bucketedJoin.run(spark, sf)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = planOf(df)
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
        !plan.contains("Exchange hashpartitioning(o_orderkey"), plan)
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("salted skew join matches the unsalted result") {
    val r = operators.JoinQueries.skewSalted.run(spark, sf).collect()(0)
    val unsalted = Tables.table(spark, sf, "lineitem")
      .withColumn("key", when(col("l_orderkey") % 10 === 0, 0L)
        .otherwise(col("l_orderkey") % 1000))
      .join(Tables.table(spark, sf, "orders")
        .filter(col("o_orderkey") < 1000)
        .select((col("o_orderkey") % 1000).as("dkey"), col("o_totalprice")),
        col("key") === col("dkey"))
      .agg(count(lit(1)), sum(col("l_extendedprice") + col("o_totalprice")))
      .collect()(0)
    assert(r.getLong(0) == unsalted.getLong(0))
    assert(math.abs(r.getDouble(1) - unsalted.getDouble(1)) < 1e-4)
  }

  test("lateral top-n decorrelates to a ranked window, no cartesian") {
    // the correlated ORDER BY ... LIMIT subquery must not execute per
    // outer row: Catalyst rewrites it to one windowed rank over a single
    // customer shuffle — a cartesian/nested-loop here would be the
    // classic lateral scale trap
    val plan = planOf(operators.JoinQueries.lateralTopN.run(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("Window"), plan.take(2000))
  }

  test("z-order layout clusters both dims and prunes by z-bucket") {
    // run the layout query (writes the z-clustered copy), then prove the
    // physical payoff: every bucket's bounding box covers ≤ 1/4 of each
    // dimension (so a 2-D predicate overlaps few buckets), and a read
    // with a z-bucket predicate prunes partitions at the scan
    val stats = operators.DdlDmlQueries.zorderLayout.run(spark, sf)
    val rows = stats.collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Int]("box_ok") <= 64, r.toString)
      assert(r.getAs[Int]("box_pk") <= 64, r.toString)
    }
    val zdir = operators.DdlDmlQueries.lastZorderDir
    val pruned = spark.read.parquet(zdir).filter(col("zbucket") === 3)
    val plan = formatted(pruned)
    assert(plan.contains("PartitionFilters: [isnotnull(zbucket") ||
      plan.contains("PartitionFilters: [(zbucket"), plan)
  }

  test("partitioned layout prunes to the matching partition directories") {
    val plan = formatted(
      operators.DdlDmlQueries.partitionedWrite.run(spark, sf))
    assert(plan.contains("PartitionFilters: [isnotnull(o_year"), plan)
    assert(plan.contains("(o_year"), plan)
  }

  test("no query plans a cartesian product or an unpartitioned window") {
    // The two plan shapes that can never survive a 100× scale-up:
    // CartesianProductExec materializes |A|×|B| across the cluster (cross
    // joins are allowed only against broadcast singletons/dims, i.e.
    // BroadcastNestedLoopJoin), and WindowExec with an empty partition
    // spec funnels its whole input through ONE task (Spark's "No
    // Partition Defined for Window operation" warning). Every ordered
    // running aggregate in the repo goes through the range-partitioned
    // prefix-scan in graft.functions.Prefix instead, so the window sweep
    // holds with NO whitelist: not even domain-sized inputs get a
    // single-partition window.
    // x_stream_* excluded: their returned DataFrame is only the read-back
    // of an already-terminated stream, so the assertion would inspect a
    // trivial scan while paying for two full streaming executions
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val excluded = Set("x_stream_tumbling", "x_stream_dedup",
      "x_stream_session", "x_stream_sliding", "x_stream_enrich",
      "x_stream_join", "x_stream_transitions")
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
      case q: QueryStageExec => p +: allNodes(q.plan)
      case _ => p +: p.children.flatMap(allNodes)
    }
    QueryDef.all.filterNot(q => excluded(q.name)).foreach { q =>
      val plan = q.run(spark, sf).queryExecution.executedPlan
      assert(!plan.toString.contains("CartesianProduct"),
        s"${q.name} plans a cartesian product:\n${plan.toString.take(2000)}")
      val badWin = allNodes(plan)
        .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      assert(badWin.isEmpty,
        s"${q.name} plans an unpartitioned window:\n" +
          badWin.map(_.toString.linesIterator.next()).mkString("\n"))
    }
  }

  test("dedup shuffles move ids and hashes, never the payload columns") {
    // the 100 TB contract of the dedup suite: document text / embedding
    // payloads stay in their scan partitions — every shuffle exchange
    // carries only ids, signatures, band keys, or verified-candidate token
    // sets for the (small) pair set, never the raw text column
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    for (q <- Seq(operators.DedupQueries.simhash,
      operators.DedupQueries.embeddingNearDup)) {
      val df = q.run(spark, sf)
      df.collect() // force AQE to finalize
      val finalPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val shuffled = finalPlan.collect {
        case s: ShuffleExchangeLike => s.output.map(_.name)
      }.flatten
      assert(!shuffled.exists(n => n.startsWith("text") ||
        n.startsWith("embedding")),
        s"${q.name} shuffles a payload column: $shuffled")
    }
  }

  test("scd2 build reuses a single user_id hash exchange") {
    // the 100 TB contract of x_events_scd2: all windows declare the same
    // user_id partitioning, so the whole versioned-dimension build rides
    // ONE hash exchange (the trailing range exchange is the output sort)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = operators.EventsQueries.scd2.run(spark, sf)
    df.collect()
    // descend through AQE query stages (leaves to TreeNode.collect)
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
      case q: QueryStageExec => p +: allNodes(q.plan)
      case _ => p +: p.children.flatMap(allNodes)
    }
    val exchanges = allNodes(df.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeLike => s }
    val hashExchanges = exchanges.filter(
      _.toString.linesIterator.next().contains("hashpartitioning"))
    assert(exchanges.nonEmpty, "plan traversal found no exchanges at all")
    assert(hashExchanges.size == 1,
      s"expected one user_id hash exchange, got:\n" +
        exchanges.map(_.toString.linesIterator.next()).mkString("\n"))
  }

  test("pq quantizer shuffles codes and partials, never vector payloads") {
    // the 100 TB contract of PQ: encoding is a per-row fold over the
    // broadcast codebook, so no exchange ever carries a subvector or the
    // raw embedding — only code tuples, per-dim partial sums, and the
    // final scored hits move
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = operators.VectorQueries.pqTopK.run(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffled = finalPlan.collect {
      case s: ShuffleExchangeLike => s.output.map(_.name)
    }.flatten
    assert(!shuffled.exists(n => n.startsWith("svec") ||
      n.startsWith("embedding") || n.startsWith("nemb") ||
      n.startsWith("q_emb")),
      s"pq shuffles a vector payload: $shuffled")
  }

  test("contamination joins the corpus against a broadcast benchmark set") {
    // the benchmark gram set is the bounded side — it must broadcast, and
    // no exchange may carry document text or raw grams (only md5 keys)
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = operators.TextQueries.contamination.run(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(finalPlan.toString.contains("BroadcastHashJoin"),
      finalPlan.toString.take(2000))
    val shuffled = finalPlan.collect {
      case s: ShuffleExchangeLike => s.output.map(_.name)
    }.flatten
    assert(!shuffled.exists(n => n.startsWith("text") ||
      n.startsWith("gram")),
      s"contamination shuffles text payload: $shuffled")
  }

  test("mixture sampling broadcasts source stats; the corpus never shuffles") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = operators.TextQueries.mix.run(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(finalPlan.toString.contains("BroadcastHashJoin"),
      finalPlan.toString.take(2000))
    val shuffled = finalPlan.collect {
      case s: ShuffleExchangeLike => s.output.map(_.name)
    }.flatten
    assert(!shuffled.exists(_.startsWith("text")),
      s"mix shuffles document text: $shuffled")
  }

  test("bm25 filters tokens by the broadcast term set; text never shuffles") {
    // the query-term semi filter must be a broadcast join BELOW the tf
    // aggregation: at 100 TB only matching (doc_id, term) pairs shuffle,
    // never document text or the corpus's full token inventory
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = operators.TextQueries.bm25.run(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(finalPlan.toString.contains("BroadcastHashJoin"),
      finalPlan.toString.take(2000))
    val shuffled = finalPlan.collect {
      case s: ShuffleExchangeLike => s.output.map(_.name)
    }.flatten
    assert(!shuffled.exists(n => n.startsWith("text") ||
      n.startsWith("toks")),
      s"bm25 shuffles text payload: $shuffled")
  }

  test("chunk dedup shuffles digests and ids, never chunk text") {
    // the first-occurrence window and the kept-index aggregation move
    // (md5, doc_id, chunk_idx) only; chunk text is re-derived map-side
    // from the doc's own token array after the reconstruction join —
    // the same contract holds for the stride-1 span-removal rewrite
    // (spans come back keyed by doc_id, the excision runs map-side)
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    for (q <- Seq(operators.DedupQueries.chunkDedup,
        operators.DedupQueries.spanRemoval,
        operators.DedupQueries.spanProvenance)) {
      val df = q.run(spark, sf)
      df.collect()
      val finalPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val shuffled = finalPlan.collect {
        case s: ShuffleExchangeLike => s.output.map(_.name)
      }.flatten
      assert(!shuffled.exists(n => n.startsWith("text") ||
        n.startsWith("toks") || n.startsWith("dedup_text")),
        s"${q.name} shuffles text payload: $shuffled")
    }
  }

  test("graph and set-similarity ops shuffle keys and ids, never text") {
    // the 100 TB contract of the chunk-share graph family and the
    // prefix-filter join: after map-side digesting/shingling, every
    // ALGORITHMIC exchange (ENSURE_REQUIREMENTS — the shuffles the plan
    // NEEDS: joins, aggregations, sorts, windows) moves digests, shingle
    // keys, ids, or integer rank state — document text and token arrays
    // stay in their scan partitions. The one exclusion is the explicit
    // input spread (REPARTITION_BY_NUM, Tables.spread, r15): it exists
    // only when the input arrives under-split (the bench's
    // single-row-group files serialize the shingle derivation on one
    // core — profiled at ~2-2.5 s of x_dedup_setjoin/containment) and is
    // the identity at scale, so it can never move payloads at 100 TB —
    // the spread test above pins that.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS,
      ShuffleExchangeLike}
    for (q <- Seq(operators.GraphQueries.pagerank,
      operators.GraphQueries.triangles, operators.GraphQueries.labelprop,
      operators.GraphQueries.khop, operators.TextQueries.dsir,
      operators.TextQueries.hashEmbed, operators.DedupQueries.setJoin,
      operators.DedupQueries.containment,
      operators.DedupQueries.splitLeakage)) {
      val df = q.run(spark, sf)
      df.collect()
      val finalPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val shuffled = finalPlan.collect {
        case s: ShuffleExchangeLike
            if s.shuffleOrigin == ENSURE_REQUIREMENTS =>
          s.output.map(_.name)
      }.flatten
      assert(!shuffled.exists(n => n.startsWith("text") ||
        n.startsWith("toks") || n.startsWith("sh")),
        s"${q.name} shuffles a payload column: $shuffled")
    }
  }

  test("weighted sampling selects via bounded-heap top-k, not a full sort") {
    // the selection subplan is inspected directly: the full query runs it
    // through Prefix.over, whose barrier materializes the 50-row result
    // and hides the selection stage from the final executed plan
    val df = operators.TextQueries.wsampleSelect(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("curation funnel pushes the language keep-list into the scan") {
    // the lang IN (…) filter must reach the parquet reader: at 100 TB the
    // keep-list prunes row groups before any token math runs
    val plan = formatted(operators.TextQueries.curate.run(spark, sf))
    val pushed = plan.linesIterator
      .filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("In(lang"), plan)
  }

  test("where-false folds to an empty local relation (no scan)") {
    val plan = operators.FilterQueries.whereFalse.run(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("FileScan") && !plan.contains("Relation["),
      plan)
  }

  test("as-of join plans join-free: one union pass, window carry-forward") {
    // the 100 TB contract: as-of is NOT a per-key non-equi join — it is a
    // single user_id shuffle + sorted window over the unioned event kinds
    val plan = planOf(
      operators.TemporalJoinQueries.asofAttribution.run(spark, sf))
    assert(!plan.contains("Join"), s"as-of planned a join:\n$plan")
    assert(plan.contains("Window"), plan)
  }

  test("interval join is banded to a hash equi-join, never a nested loop") {
    // the naive interval join is a cross/theta join (BroadcastNestedLoop
    // at best); banding must make the overlap a hash join on the bucket
    val plan = planOf(
      operators.TemporalJoinQueries.rangeInterval.run(spark, sf))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"interval join fell back to a nested loop:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("topk aggregate plans partial (map-side) aggregation stages") {
    // the bounded buffer only pays off if Spark still plans the
    // partial→final split: k pairs per (group, partition) cross the
    // exchange, never the group's rows
    val plan = planOf(operators.AggregateQueries.topkPerGroup.run(spark, sf))
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final ObjectHashAggregate stages:\n$plan")
  }

  test("kmv sketches build through bounded TakeOrdered heaps") {
    val plan = planOf(operators.DedupQueries.kmvOverlap.run(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"bottom-k must be a bounded heap, not a full sort:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("cdc chunking shuffles digests only, never text or token arrays") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = operators.DedupQueries.cdcChunks.run(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffled = finalPlan.collect {
      case s: ShuffleExchangeLike => s.output.map(_.name)
    }.flatten
    assert(!shuffled.exists(n => n.startsWith("text") ||
      n.startsWith("toks") || n.startsWith("chunks") ||
      n.startsWith("cuts") || n.startsWith("starts")),
      s"cdc dedup shuffles payload columns: $shuffled")
  }

  test("equi-depth histogram buckets by broadcast bounds, no global sort") {
    val plan = planOf(operators.DdlDmlQueries.analyzeHistogram.run(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"percentile bounds must broadcast:\n$plan")
    assert(!plan.contains("Window"),
      s"no per-row global window allowed in the bucket assignment:\n$plan")
  }

  test("graph queries read the derived edges from checkpointed blocks") {
    // without the localCheckpoint the lazy pagerank plan re-derived
    // edges-from-text once per loop reference (114 parquet scans)
    val df = operators.GraphQueries.pagerank.run(spark, sf)
    val pre = df.queryExecution.optimizedPlan.toString
    assert(!pre.contains("Relation") || !pre.contains("parquet"),
      s"pagerank must not re-scan parquet inside the loop:\n${pre.take(800)}")
  }

  test("iterative ops survive on reliable checkpoints when a dir is set") {
    // executor-loss story: with spark.graft.checkpoint.dir configured,
    // every Checkpoints.barrier becomes a reliable checkpoint() persisted
    // to that dir (instead of executor-local blocks that die with the
    // executor) — and the iterative op's result is unchanged. Asserts
    // (a) the dir actually receives RDD checkpoint data, (b) the
    // star-contraction CC result is byte-identical to local mode.
    val baseline = operators.DedupQueries.cc.run(spark, sf)
      .collect().map(_.toString).sorted
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    try {
      spark.conf.set("spark.graft.checkpoint.dir", dir.toString)
      val reliable = operators.DedupQueries.cc.run(spark, sf)
        .collect().map(_.toString).sorted
      assert(reliable.sameElements(baseline))
      def anyFile(p: java.nio.file.Path): Boolean = {
        val s = java.nio.file.Files.walk(p)
        try s.anyMatch(f => java.nio.file.Files.isRegularFile(f))
        finally s.close()
      }
      assert(anyFile(dir),
        s"no checkpoint data was written under $dir — reliable mode " +
          "never engaged")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
      sources.FsUtil.deleteRecursively(dir, swallowErrors = true)
    }
  }

  test("a changed checkpoint dir rotates storage at the next barrier") {
    // long-lived serving session story: reconfiguring
    // spark.graft.checkpoint.dir between barriers must move NEW
    // checkpoint traffic to the new path (per-barrier resolve, not
    // first-wins-per-context)
    import graft.sources.Checkpoints
    def anyFile(p: java.nio.file.Path): Boolean = {
      val s = java.nio.file.Files.walk(p)
      try s.anyMatch(f => java.nio.file.Files.isRegularFile(f))
      finally s.close()
    }
    val dirA = java.nio.file.Files.createTempDirectory("graft_ckpt_a")
    val dirB = java.nio.file.Files.createTempDirectory("graft_ckpt_b")
    try {
      spark.conf.set("spark.graft.checkpoint.dir", dirA.toString)
      Checkpoints.barrier(spark.range(0, 100).toDF("v")).count()
      assert(anyFile(dirA), "first barrier must land under the first dir")
      spark.conf.set("spark.graft.checkpoint.dir", dirB.toString)
      Checkpoints.barrier(spark.range(0, 100).toDF("v")).count()
      assert(anyFile(dirB),
        "after reconfiguration the next barrier must land under the new dir")
      assert(
        spark.sparkContext.getCheckpointDir.exists(
          Checkpoints.underDir(_, dirB.toString)),
        "context dir must point under the rotated path")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
      sources.FsUtil.deleteRecursively(dirA, swallowErrors = true)
      sources.FsUtil.deleteRecursively(dirB, swallowErrors = true)
    }
  }

  test("underDir matches at path boundaries, not substrings") {
    import graft.sources.Checkpoints.underDir
    assert(underDir("file:/tmp/ckpt/uuid-123", "/tmp/ckpt"))
    assert(underDir("/tmp/ckpt", "/tmp/ckpt"))
    assert(underDir("hdfs://nn/ckpt/uuid", "hdfs://nn/ckpt/"))
    assert(!underDir("file:/tmp/ckpt-2/uuid", "/tmp/ckpt"),
      "a sibling dir sharing a string prefix is NOT the configured dir")
    assert(!underDir("/tmp/other/ckpt", "/tmp/ckpt"))
  }

  test("retrieval, card, and hamming-join shuffles never carry payloads") {
    // the 100 TB contract of the round-6 additions: more-like-this and
    // the KN LM join model tables BY KEY (term/bigram longs and small
    // structs), the dataset card shuffles digests + per-row stats, and
    // the banded Hamming join shuffles (doc_id, band, 16-bit key) rows —
    // document text and image bytes stay in their scan partitions
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    for (q <- Seq(operators.TextQueries.moreLikeThis,
      operators.TextQueries.lmScoreKn, operators.TextQueries.datasetCard,
      operators.MultimodalQueries.phashHammingJoin)) {
      val df = q.run(spark, sf)
      df.collect()
      val finalPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val shuffled = finalPlan.collect {
        case s: ShuffleExchangeLike => s.output.map(_.name)
      }.flatten
      assert(!shuffled.exists(n => n.startsWith("text") ||
        n.startsWith("toks") || n.startsWith("png") || n == "bytes"),
        s"${q.name} shuffles a payload column: $shuffled")
    }
  }

  test("broadcast hint forces the hinted side to broadcast") {
    val df = operators.JoinQueries.hintBroadcast.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"hint must force a broadcast join:\n${plan.take(1500)}")
  }

  test("ordered-large hints pin build side and join strategy") {
    val df = operators.JoinQueries.hintOrdered.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // SHUFFLE_HASH(supplier): supplier is the BUILD side, lineitem
    // streams — the INFINIDB_ORDERED large-side pin
    assert(plan.contains("ShuffledHashJoin"),
      s"supplier hint must force a shuffled hash join:\n${plan.take(1500)}")
    // SHUFFLE_MERGE(orders): the second join must sort-merge
    assert(plan.contains("SortMergeJoin"),
      s"orders hint must force a sort-merge join:\n${plan.take(1500)}")
  }

  test("deterministic shuffle plans partitioned windows only") {
    val plan = formatted(operators.TextQueries.shuffleShards.run(spark, sf))
    // the per-shard rank must be a partitioned window (256 shards), never
    // a single-partition global sort
    assert(!plan.contains("Window [") ||
      plan.contains("partitionBy") || plan.contains("shard"),
      s"shuffle rank must partition by shard:\n$plan")
  }

  test("query trace reports exact semantic step counts on a planted job") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_trace").toString
    spark.range(0, 1000).toDF("id")
      .withColumn("g", pmod(col("id"), lit(7)))
      .write.mode("overwrite").parquet(s"$dir/t")
    val trace = graft.plans.QueryTrace.trace(spark,
      spark.read.parquet(s"$dir/t")
        .filter(col("id") < 300)
        .groupBy(col("g")).agg(count(lit(1)).as("n")))
      .collect().map(r => (r.getInt(0), r.getString(1),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
    assert(trace.map(_._2).toSeq ==
      Seq("scan", "filter", "agg_partial", "exchange", "agg_final"),
      s"static agg job shape, got ${trace.toSeq}")
    // filter and final-agg counts are semantic: 300 surviving rows,
    // 7 groups; partition-dependent steps report no oracle count
    assert(trace.find(_._2 == "filter").get._3.contains(300L))
    assert(trace.find(_._2 == "agg_final").get._3.contains(7L))
    assert(trace.find(_._2 == "agg_partial").get._3.isEmpty)
    graft.sources.FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("a repeated TPC-H pass compiles no generated class") {
    // Spark keeps generated classes in one JVM-wide LRU cache that
    // Session.tune sizes; at Spark's default of 100 entries a pass over
    // q01-q22 (~300 classes) evicted its own classes and Janino-compiled
    // every one of them again on every run
    import org.apache.spark.metrics.source.CodegenMetrics
    val tpch = Seq("q01_pricing_summary", "q02_min_cost_supplier",
      "q03_shipping_priority", "q04_order_priority",
      "q05_local_supplier_volume", "q06_forecast_revenue",
      "q07_volume_shipping", "q08_market_share", "q09_product_profit",
      "q10_returned_items", "q11_important_stock", "q12_ship_mode_priority",
      "q13_customer_distribution", "q14_promo_effect", "q15_top_supplier",
      "q16_parts_supplier", "q17_small_quantity",
      "q18_large_volume_customer", "q19_discounted_revenue",
      "q20_excess_stock", "q21_suppliers_waiting", "q22_global_sales")
    def pass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      for (n <- tpch) {
        spark.catalog.clearCache()
        SparkEntry.queries(n)(spark, sf)
          .write.mode("overwrite").format("noop").save()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val compiled = Seq.fill(3)(pass())
    assert(compiled.last == 0L,
      s"classes compiled per pass: ${compiled.mkString(", ")}")
  }
}
