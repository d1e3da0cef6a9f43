package graft

import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._

class VectorTextSpec extends GraftSuite {
  import spark.implicits._

  test("vector kernels match hand-computed values") {
    val df = Seq((Array(1.0f, 2.0f, 2.0f), Array(2.0f, 0.0f, 1.0f)))
      .toDF("a", "b")
      .select(dotProduct($"a", $"b").as("dot"),
        l2Distance($"a", $"b").as("l2"),
        cosineSim($"a", $"b").as("cos"),
        cosineSim($"a", $"a").as("self"))
    val r = df.collect()(0)
    assert(math.abs(r.getDouble(0) - 4.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - math.sqrt(6.0)) < 1e-12) // (−1,2,1)
    assert(math.abs(r.getDouble(2) - 4.0 / (3.0 * math.sqrt(5.0))) < 1e-12)
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-12)
  }

  test("lsh bucket is deterministic and respects similarity") {
    val v = Array.tabulate(64)(i => (math.sin(i + 1)).toFloat)
    val df = Seq((1L, v), (2L, v)).toDF("id", "e")
      .select($"id", lshBucket($"e").as("b"))
    val buckets = df.collect().map(_.getInt(1))
    assert(buckets(0) == buckets(1))
    assert(buckets(0) >= 0 && buckets(0) < 256)
  }

  test("lsh ANN results are a subset of brute-force candidates with sane recall") {
    val brute = operators.VectorQueries.bruteTopK.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = operators.VectorQueries.lshTopK.run(spark, sf).collect()
    assert(lsh.nonEmpty)
    // every LSH hit must score identically to the brute metric (cos in [-1,1])
    lsh.foreach(r => assert(math.abs(r.getDouble(3)) <= 1.0))
    // full result shape: 10 queries × top 3 — a shrunken result set must
    // fail here rather than silently weaken the recall bound below
    assert(lsh.length == 30, s"expected 30 LSH rows, got ${lsh.length}")
    // quantified recall floor vs the exact top-5 set (50 pairs): the
    // 4-table × 8-plane multiprobe finds ≥6 true neighbors even on
    // near-orthogonal random vectors (deterministic testdata; measured 9)
    val overlap = lsh.map(r => (r.getLong(0), r.getLong(2))).count(brute)
    assert(overlap >= 6, s"LSH recall too low: $overlap of 30 in brute top-5")
  }

  test("ivf ANN scans only probed clusters with sane recall") {
    val brute = operators.VectorQueries.bruteTopK.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = operators.VectorQueries.ivfTopK.run(spark, sf).collect()
    // full result shape: 10 queries × top 3
    assert(ivf.length == 30, s"expected 30 IVF rows, got ${ivf.length}")
    // every IVF hit scores with the exact brute metric (cos in [-1,1])
    ivf.foreach(r => assert(math.abs(r.getDouble(3)) <= 1.0))
    // recall floor vs the exact top-5 set: nprobe=4 of k=16 clusters scans
    // ~1/4 of the corpus; on the deterministic near-orthogonal testdata the
    // measured overlap is 26 of 30 — assert a safe floor well above chance
    val overlap = ivf.map(r => (r.getLong(0), r.getLong(2))).count(brute)
    assert(overlap >= 15, s"IVF recall too low: $overlap of 30 in brute top-5")
  }

  test("pq ANN reconstructs neighbors from 4 subspace codes with sane recall") {
    val brute = operators.VectorQueries.bruteTopK.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = operators.VectorQueries.pqTopK.run(spark, sf).collect()
    // full result shape: 10 queries × top 3
    assert(pq.length == 30, s"expected 30 PQ rows, got ${pq.length}")
    pq.foreach { r =>
      assert(r.getDouble(3) >= 0.0, "squared ADC distance must be >= 0")
      assert(math.abs(r.getDouble(4)) <= 1.0) // exact cos emitted alongside
    }
    // ADC ranks by a 16-code approximation of the full 64-dim distance;
    // on the near-orthogonal testdata quantization noise dominates more
    // than IVF's exact-scoring path, so the floor is lower but must stay
    // far above the ~2.5%-chance expected overlap of 0.75 (measured: 11
    // of 30 with the PQ16x4 codebooks)
    val overlap = pq.map(r => (r.getLong(0), r.getLong(2))).count(brute)
    assert(overlap >= 4, s"PQ recall too low: $overlap of 30 in brute top-5")
  }

  test("sq8 ANN quantizes to 8-bit codes with near-exact recall") {
    val brute = operators.VectorQueries.bruteTopK.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val sq = operators.VectorQueries.sq8TopK.run(spark, sf).collect()
    assert(sq.length == 30, s"expected 30 SQ8 rows, got ${sq.length}")
    sq.foreach { r =>
      assert(r.getDouble(3) >= 0.0, "squared distance must be >= 0")
      assert(math.abs(r.getDouble(4)) <= 1.0)
    }
    // 8 bits per dim is a fine grid: unlike PQ's 16-code compression the
    // reconstruction error is tiny, so SQ8 should land nearly all of the
    // brute top-5 set
    val overlap = sq.map(r => (r.getLong(0), r.getLong(2))).count(brute)
    assert(overlap >= 24, s"SQ8 recall too low: $overlap of 30")
  }

  test("ivf+pq composes pruning and compression with sane recall") {
    val brute = operators.VectorQueries.bruteTopK.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivfpq = operators.VectorQueries.ivfpqTopK.run(spark, sf).collect()
    // full result shape: 10 queries × top 3
    assert(ivfpq.length == 30, s"expected 30 IVFPQ rows, got ${ivfpq.length}")
    ivfpq.foreach { r =>
      assert(r.getDouble(3) >= 0.0)
      assert(math.abs(r.getDouble(4)) <= 1.0)
    }
    // recall ≤ both parents' (pruning loses what IVF loses, scoring loses
    // what PQ loses) but must stay far above the ~2.5%-chance 0.75
    val overlap = ivfpq.map(r => (r.getLong(0), r.getLong(2))).count(brute)
    assert(overlap >= 3, s"IVFPQ recall too low: $overlap of 30")
  }

  test("indexed ivfpq matches the composed query from a training-free plan") {
    val composed = operators.VectorQueries.ivfpqTopK.run(spark, sf)
      .collect().map(_.toSeq).toSeq
    val indexed = operators.VectorQueries.ivfpqIndexed.run(spark, sf)
    // identical results: the artifacts persist the same deterministic
    // computation the composed query runs in-line
    assert(indexed.collect().map(_.toSeq).toSeq == composed)
    // and the read-side plan must contain NO k-means subtree: the
    // training-only fold markers (the broadcast centroid/codebook arrays
    // `carr`/`cbook` that only reassign/encode build) must be absent,
    // while the artifact scans must be present
    val analyzed = indexed.queryExecution.analyzed.toString
    assert(!analyzed.contains("carr") && !analyzed.contains("cbook"),
      s"training subtree leaked into the indexed plan:\n$analyzed")
    val scans = indexed.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case f: org.apache.spark.sql.execution.datasources
              .HadoopFsRelation => f.location.rootPaths.mkString(",")
          case other => other.toString
        }
    }
    assert(scans.exists(_.contains("coarse_centroids")) &&
      scans.exists(_.contains("pq_codes")),
      s"expected artifact scans in:\n${scans.mkString("\n")}")
  }

  test("indexed residual-pq matches the composed query, training-free") {
    val composed = operators.VectorQueries.pqResidualTopK.run(spark, sf)
      .collect().map(_.toSeq).toSeq
    val indexed = operators.VectorQueries.pqResidualIndexed.run(spark, sf)
    // identical results: the respq artifacts persist the same
    // deterministic residual training the composed query runs in-line
    assert(indexed.collect().map(_.toSeq).toSeq == composed)
    val analyzed = indexed.queryExecution.analyzed.toString
    assert(!analyzed.contains("carr") && !analyzed.contains("cbook"),
      s"training subtree leaked into the residual indexed plan:\n$analyzed")
    val scans = indexed.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case f: org.apache.spark.sql.execution.datasources
              .HadoopFsRelation => f.location.rootPaths.mkString(",")
          case other => other.toString
        }
    }
    assert(scans.exists(_.contains("respq_codebook")) &&
      scans.exists(_.contains("respq_codes")),
      s"expected respq artifact scans in:\n${scans.mkString("\n")}")
  }

  test("a forced rebuild never disturbs a reader of the published index") {
    // a reader pins one published index; a build racing it commits new
    // artifact versions beside the old ones, so every read returns the
    // baseline rows and none hits a vanished file
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_annbuild").toString
    try {
      Tables.table(spark, sf, "embeddings")
        .write.parquet(s"$tmp/embeddings.parquet")
      operators.AnnIndex.build(spark, tmp)
      def rows(): Seq[Seq[Any]] = operators.AnnIndex.ivfPqQuery(spark, tmp)
        .collect().map(_.toSeq).toSeq
      val baseline = rows()
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val builder = new Thread(() =>
        try operators.AnnIndex.build(spark, tmp)
        catch { case t: Throwable => failure.set(t) })
      builder.start()
      var reads = 0
      try while (builder.isAlive) {
        assert(rows() == baseline, s"read ${reads + 1} diverged mid-rebuild")
        reads += 1
      } finally builder.join()
      assert(failure.get() == null, s"the rebuild failed: ${failure.get()}")
      assert(reads > 0, "no read overlapped the rebuild")
      assert(rows() == baseline, "the rebuilt index answers differently")
    } finally {
      sources.FsUtil.deleteRecursively(Paths.get(tmp), swallowErrors = true)
    }
  }

  test("index merge serves ingested vectors; delete prunes tombstones " +
      "at the list scan and preserves survivor scores") {
    val merge = operators.VectorQueries.indexMerge.run(spark, sf).collect()
    val del = operators.VectorQueries.indexDelete.run(spark, sf)
    val delRows = del.collect()
    assert(merge.length == 30 && delRows.length == 30)
    // the merged index must actually serve ingested (batch) vectors —
    // the FAISS add contract: new ids appear in top-k with no retrain
    assert(merge.exists(_.getAs[Number]("vec_id").longValue % 8 == 0),
      "no ingested vector reached the merged index's top-k")
    // remove_ids contract 1: a deleted id can never be returned
    assert(delRows.forall(_.getAs[Number]("vec_id").longValue % 5 != 3),
      "tombstoned id returned by the deleted index")
    // remove_ids contract 2: survivors keep their exact codes, so their
    // approx/exact scores are bit-identical and their rank only improves
    val delByPair = delRows.map { r =>
      (r.getAs[Number]("q_id").longValue,
        r.getAs[Number]("vec_id").longValue) ->
        (r.getAs[Number]("rk").longValue, r.getAs[Double]("approx_dist"),
          r.getAs[Double]("cos"))
    }.toMap
    merge.filter(_.getAs[Number]("vec_id").longValue % 5 != 3).foreach {
      r =>
        val key = (r.getAs[Number]("q_id").longValue,
          r.getAs[Number]("vec_id").longValue)
        val (rk, ad, cs) = delByPair.getOrElse(key,
          fail(s"surviving merge-top-3 pair $key missing after delete"))
        assert(rk <= r.getAs[Number]("rk").longValue,
          s"survivor $key rank worsened after delete")
        assert(ad == r.getAs[Double]("approx_dist") &&
          cs == r.getAs[Double]("cos"),
          s"survivor $key score changed after delete")
    }
    // and the pruning happens at the posting-list scan (broadcast
    // anti-joins on BOTH the assignment and code lists), never as a
    // filter on scored results
    val plan = del.queryExecution.executedPlan.toString
    assert("LeftAnti".r.findAllIn(plan).size >= 2,
      s"expected two anti-join prunes in the delete plan:\n$plan")
  }

  test("segmented maintenance equals the composed delete; compaction " +
      "preserves results; read plan is training-free") {
    // the registered query runs the full lifecycle: base build → delta
    // append → tombstones → segmented read
    val maint = operators.VectorQueries.indexMaintenance.run(spark, sf)
    val rows = maint.collect().map(_.toSeq).toSeq
    // the segmented artifact read must equal the composed
    // merged-minus-tombstones chain bit-for-bit
    val composed = operators.VectorQueries.indexDelete.run(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(rows == composed,
      "segmented maintenance read diverged from the composed delete")
    // the read side is artifact scans only — no k-means subtree (the
    // training fold markers carr/cbook only appear in reassign/encode)
    val readBack = operators.AnnIndex.maintQuery(spark, sf)
    val analyzed = readBack.queryExecution.analyzed.toString
    assert(!analyzed.contains("carr") && !analyzed.contains("cbook"),
      s"training subtree leaked into the maintenance read plan:\n$analyzed")
    assert(readBack.collect().map(_.toSeq).toSeq == rows)
    // several delta segments coexist until compaction: re-splitting the
    // one ingest batch into two named segments must read identically to
    // the single-delta layout (an LSM store's runs are union-equivalent)
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val all = graft.Tables.table(spark, sf, "embeddings")
    val batch = all.filter(pmod(col("vec_id"), lit(8)) === 0)
    operators.AnnIndex.appendSegment(spark, sf,
      batch.filter(pmod(col("vec_id"), lit(16)) === 0), "seg1")
    operators.AnnIndex.appendSegment(spark, sf,
      batch.filter(pmod(col("vec_id"), lit(16)) =!= 0), "seg2")
    assert(operators.AnnIndex.maintQuery(spark, sf)
      .collect().map(_.toSeq).toSeq == rows,
      "two-delta segment layout diverged from the single-delta read")
    // compaction folds all deltas + tombstones into a new base and must
    // not change a single byte of any query result
    val mcat = new sources.Catalog(spark,
      s"${operators.AnnIndex.indexDir(sf)}/maint")
    val preCompact = mcat.props("index", mcat.currentVersion("index"))
    operators.AnnIndex.compact(spark, sf)
    assert(operators.AnnIndex.maintQuery(spark, sf)
      .collect().map(_.toSeq).toSeq == rows,
      "compaction changed query results")
    // after compaction the dead rows are physically gone: re-running the
    // read must no longer depend on delta/tombstone artifacts
    val postPlan = operators.AnnIndex.maintQuery(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!postPlan.contains("LeftAnti"),
      s"compacted read still anti-joins tombstones:\n$postPlan")
    // one-generation retention: the artifact versions the pre-compaction
    // index named survive THIS compaction (a reader that pinned the old
    // index keeps valid files), and only the NEXT compaction drops them
    assert(preCompact.contains("tombstones"),
      "fixture: the pre-compaction index must name tombstones")
    val superseded = Seq("assign", "codes", "tombstones")
      .map(t => t -> preCompact(t).toInt)
    def readable(t: String, v: Int): Boolean =
      scala.util.Try(mcat.tableAsOf(t, v).count()).isSuccess
    assert(superseded.forall { case (t, v) => readable(t, v) },
      "retention window violated: superseded versions deleted immediately")
    operators.AnnIndex.compact(spark, sf)
    assert(superseded.forall { case (t, v) => !readable(t, v) },
      "superseded versions leaked past one generation")
    assert(operators.AnnIndex.maintQuery(spark, sf)
      .collect().map(_.toSeq).toSeq == rows,
      "second compaction changed query results")
  }

  test("maintenance reads racing delete+compaction observe only " +
      "published states") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val all = graft.Tables.table(spark, sf, "embeddings")
    val batch = all.filter(pmod(col("vec_id"), lit(8)) === 0)
    val tombA = all.filter(pmod(col("vec_id"), lit(5)) === 3)
    val tombB = all.filter(pmod(col("vec_id"), lit(3)) === 0)
    def state(): Seq[Seq[Any]] =
      operators.AnnIndex.maintQuery(spark, sf).collect().map(_.toSeq).toSeq
    // capture the two deterministic published states serially
    operators.AnnIndex.buildBaseSegment(spark, sf)
    operators.AnnIndex.appendSegment(spark, sf, batch, "seg1")
    operators.AnnIndex.writeTombstones(spark, sf, tombA)
    val rA = state()
    operators.AnnIndex.writeTombstones(spark, sf, tombB)
    val rB = state()
    assert(rA != rB, "fixture: tombstone sets must yield distinct states")
    // reset to state A, then race a reader loop against a tombstone
    // republish and the compaction that ends the generation. Atomic
    // manifest + current-generation retention guarantee every read
    // resolves one published state with all its files intact — never a
    // mix, never a vanished dir (compaction preserves results, so B is
    // also the only legal post-compaction observation).
    operators.AnnIndex.writeTombstones(spark, sf, tombA)
    assert(state() == rA)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val reader = new Thread(() => {
      try for (_ <- 1 to 10) {
        val r = state()
        seen.add(if (r == rA) "A" else if (r == rB) "B" else "MIXED")
      } catch { case t: Throwable => failure.set(t) }
    })
    reader.start()
    operators.AnnIndex.writeTombstones(spark, sf, tombB)
    operators.AnnIndex.compact(spark, sf)
    reader.join(300000)
    assert(!reader.isAlive, "racing reader hung")
    assert(failure.get() == null,
      s"racing reader failed mid-collect: ${failure.get()}")
    import scala.jdk.CollectionConverters._
    val states = seen.asScala.toSeq
    assert(states.nonEmpty && states.forall(s => s == "A" || s == "B"),
      s"reader observed an unpublished or mixed state: $states")
  }

  test("TWO-JVM maintenance contention: reads resolve complete manifests " +
      "while a second process mutates; concurrent == serial replay") {
    // the in-process racing test above can't catch a broken cross-process
    // manifest protocol (the maint lock, the atomic rename) — this one
    // spawns a REAL second JVM that appends/deletes/compacts while this
    // process queries in a loop, then replays the same deterministic
    // mutation schedule serially on a second corpus copy and demands the
    // end states match exactly (a lost manifest read-modify-write, a
    // torn publication, or a premature retention delete all diverge)
    import java.nio.file.{Files, Paths}
    val tmpA = Files.createTempDirectory("graft_annmaint_a").toString
    val tmpB = Files.createTempDirectory("graft_annmaint_b").toString
    var proc: sources.ChildJvm.Spawned = null
    try {
      val emb = Tables.table(spark, sf, "embeddings")
      emb.write.parquet(s"$tmpA/embeddings.parquet")
      emb.write.parquet(s"$tmpB/embeddings.parquet")
      operators.AnnIndex.buildBaseSegment(spark, tmpA)
      val baseline = operators.AnnIndex.maintQuery(spark, tmpA)
        .collect().map(_.toSeq).toSeq
      assert(baseline.nonEmpty, "fixture: base segment must answer")

      val rounds = 4
      // fixture sanity: every per-round append slice must be non-empty
      // (a modulus mistake over the all-multiples-of-8 held-out set
      // once made rounds 2..4 append EMPTY segments, silently gutting
      // this test's coverage)
      import org.apache.spark.sql.functions.{col, lit, pmod}
      val heldOut = emb.filter(pmod(col("vec_id"), lit(8)) === 0)
      (1 to rounds).foreach { r =>
        assert(heldOut.filter(pmod((col("vec_id") / lit(8)).cast("long"),
          lit(rounds.toLong)) === (r - 1)).count() > 0,
          s"append slice $r is empty — the mutation schedule is a no-op")
      }
      proc = sources.ChildJvm.spawn("graft.operators.AnnMaintMutator",
        Seq(tmpA, rounds.toString),
        sysProps =
          Seq(s"-Dgraft.ann.scratch=${operators.AnnIndex.scratchRootPath}"))

      // query loop against the live index: EVERY read must resolve a
      // complete manifest — full result shape, no vanished files, no
      // partial publication — no matter where the mutator is
      var reads = 0
      var overlap = 0
      val deadline = System.nanoTime() + 300L * 1000000000L
      while (proc.isAlive && System.nanoTime() < deadline) {
        val mutating = Files.exists(Paths.get(tmpA, "_mutating"))
        val rows = operators.AnnIndex.maintQuery(spark, tmpA).collect()
        reads += 1
        if (mutating) overlap += 1
        assert(rows.length == baseline.length,
          s"read $reads returned ${rows.length} rows " +
            s"(expected ${baseline.length}) — partial state observed")
        assert(rows.map(_.getLong(0)).distinct.length == 10,
          s"read $reads lost query ids — partial state observed")
      }
      assert(proc.proc.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) &&
        proc.proc.exitValue() == 0,
        s"mutator JVM failed; output tail:\n${proc.tail().takeRight(2000)}")
      assert(Files.exists(Paths.get(tmpA, "_mutator_done")),
        "mutator never finished its schedule")
      assert(reads > 0, "the reader loop must actually observe the index")
      assert(overlap > 0,
        s"no read overlapped a mutation window across $reads reads — " +
          "the contention test never contended")

      // serial replay on corpus B: deterministic schedule ⇒ identical
      // end state (k-means init is fingerprint-hashed, not random)
      operators.AnnIndex.buildBaseSegment(spark, tmpB)
      operators.AnnMaintMutator.applyRounds(spark, tmpB, rounds, None)
      val a = operators.AnnIndex.maintQuery(spark, tmpA)
        .collect().map(_.toSeq).toSeq
      val b = operators.AnnIndex.maintQuery(spark, tmpB)
        .collect().map(_.toSeq).toSeq
      assert(a == b, "concurrent mutation end state diverged from the " +
        "serial replay — a manifest update was lost or torn")
      // and the final state still survives one more compaction intact
      operators.AnnIndex.compact(spark, tmpA)
      assert(operators.AnnIndex.maintQuery(spark, tmpA)
        .collect().map(_.toSeq).toSeq == a,
        "post-run compaction changed query results")
    } finally {
      if (proc != null) proc.destroyForcibly()
      sources.FsUtil.deleteRecursively(Paths.get(tmpA),
        swallowErrors = true)
      sources.FsUtil.deleteRecursively(Paths.get(tmpB),
        swallowErrors = true)
    }
  }

  test("canonical maintained state: ensure skips, any mutator invalidates") {
    // the recall gate reuses the maintenance row's lifecycle state via
    // the published index's `canonical` prop; it must (a) make
    // ensureMaintained a no-op while the canonical state is live, and
    // (b) be dropped by ANY mutation, so it can never claim canonical
    // over a diverged index
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft_annstate").toString
    try {
      Tables.table(spark, sf, "embeddings")
        .write.parquet(s"$tmp/embeddings.parquet")
      operators.AnnIndex.establishMaintained(spark, tmp)
      val before = operators.AnnIndex.maintQuery(spark, tmp)
        .collect().map(_.toSeq).toSeq
      val mcat = new sources.Catalog(spark,
        s"${operators.AnnIndex.indexDir(tmp)}/maint")
      def published(): Map[String, String] =
        mcat.props("index", mcat.currentVersion("index"))
      val m0 = published()
      // (a) ensure over a live canonical state must not rebuild: the
      // published index's props stay identical
      operators.AnnIndex.ensureMaintained(spark, tmp)
      assert(published() == m0, "ensureMaintained rebuilt a live canonical " +
        "state — the recall gate would re-pay the base training")
      // (b) a mutation (extra tombstone wave) publishes a non-canonical
      // index; ensure must then re-establish (new artifact versions), and
      // the re-built state answers identically to the first canonical
      // build
      operators.AnnIndex.writeTombstones(spark, tmp,
        Tables.table(spark, tmp, "embeddings")
          .filter(org.apache.spark.sql.functions.col("vec_id") === 1))
      operators.AnnIndex.ensureMaintained(spark, tmp)
      assert(published() != m0,
        "a mutated state must not pass for canonical")
      val after = operators.AnnIndex.maintQuery(spark, tmp)
        .collect().map(_.toSeq).toSeq
      assert(after == before,
        "re-established canonical state must answer identically")
    } finally {
      sources.FsUtil.deleteRecursively(java.nio.file.Paths.get(tmp),
        swallowErrors = true)
    }
  }

  test("a JVM's own ANN scratch root is deleted when it exits") {
    val child = sources.ChildJvm.spawn("graft.AnnScratchChild", Seq(sf))
    val exit = child.waitFor()
    val tail = child.tail()
    assert(exit == 0, s"child failed (exit=$exit): ${tail.takeRight(800)}")
    val root = tail.linesIterator.collectFirst {
      case l if l.startsWith("ROOT=") => l.stripPrefix("ROOT=") }
    assert(root.isDefined, s"child printed no root: ${tail.takeRight(800)}")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root.get)),
      s"${root.get} outlived the JVM that owned it")
  }

  test("ANN queries leave the block-manager cache empty") {
    // two trainings back-to-back in one session: a library caller must
    // not accumulate cached assignment blocks (materialization goes
    // through scratch parquet, never persist())
    for (q <- Seq(operators.VectorQueries.ivfTopK,
        operators.VectorQueries.pqTopK)) {
      q.run(spark, sf).collect()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"${q.name} left entries in the cache manager")
    }
  }

  test("star contraction converges logarithmically on a 64-node chain") {
    // a transitive chain is the pathological case for hash-min
    // propagation (rounds = diameter = 63); large-star/small-star must
    // contract it in O(log n) rounds
    val chain = (0L until 63L).map(i => (i + 1, i)).toDF("a", "b")
    val (stars, rounds) = operators.DedupQueries.connectedComponents(chain)
    assert(rounds <= 8, s"chain took $rounds rounds (expected ≤ 8)")
    val labels = stars.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 63, s"expected 63 star edges, got ${labels.length}")
    assert(labels.forall(_._2 == 0L),
      s"all nodes must point at component min 0: ${labels.take(5).toSeq}")
    // two disjoint components stay disjoint
    val two = ((0L until 10L).map(i => (i + 1, i)) ++
      (100L until 110L).map(i => (i + 1, i))).toDF("a", "b")
    val (stars2, _) = operators.DedupQueries.connectedComponents(two)
    val byComp = stars2.collect().map(r => r.getLong(1)).distinct.sorted
    assert(byComp.toSeq == Seq(0L, 100L), byComp.toSeq.toString)
  }

  test("bpe training learns the hand-derived merge sequence") {
    // vocab {aaab:3, aab:2} — pair counts by hand:
    //   round 1: (a,a)=8 > (a,b)=5          → merge (a,a)
    //   round 2: (a,b)=3 = (aa,a)=3, tie → lexicographic (a < aa)
    //                                       → merge (a,b)
    //   round 3: (aa,ab)=3 > (aa,b)=2       → merge (aa,ab)
    val d = Seq((1L, "aaab aaab aaab aab aab")).toDF("doc_id", "text")
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_bpe").toString
    val merges = operators.BpeQueries.trainMerges(spark, d, 3, s"$scratch/w")
    assert(merges == Seq(("a", "a"), ("a", "b"), ("aa", "ab")), merges)
  }

  test("bpe tokenizer merges to whole words and stops when pairs run dry") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bpe2").toString
    Seq((1L, "aaab aab"), (2L, "")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = operators.BpeQueries.tokensBpe.run(spark, tmp).collect()
    // 8 requested merges exhaust after 4 on this corpus; both words
    // collapse to single learned tokens, the empty doc tokenizes empty
    assert(rows.length == 2)
    assert(rows(0).getInt(1) == 2 && rows(0).getInt(2) == 2)
    assert(rows(0).getString(3) == "aaab aab")
    assert(rows(1).getInt(2) == 0 && rows(1).getString(3) == "")
  }

  test("star contraction rounds shuffle id pairs only") {
    // the 100 TB contract of the cc loop: every exchange in a
    // large-star/small-star round carries two-long edge tuples (and the
    // grouped min), never anything payload-shaped
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val edges = (0L until 100L).map(i => (i + 1, i)).toDF("a", "b")
    for (round <- Seq(operators.DedupQueries.largeStar(edges),
        operators.DedupQueries.smallStar(edges))) {
      round.collect()
      val finalPlan = round.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val shuffled = finalPlan.collect {
        case s: ShuffleExchangeLike => s.output.map(_.name)
      }.flatten.toSet
      assert(shuffled.subsetOf(Set("a", "b", "mn", "m")),
        s"unexpected shuffle columns: $shuffled")
    }
  }

  test("span dedup catches unaligned boilerplate the chunk grid misses") {
    // a 15-token run shared at DIFFERENT offsets (7 vs 3): no 10-token
    // grid chunk is identical across the docs, but the sliding windows
    // inside the run are — spans must report one 15-token island each
    val run = (1 to 15).map(i => s"r$i").mkString(" ")
    val d1 = (1 to 7).map(i => s"a$i").mkString(" ") + " " + run + " b1 b2 b3"
    val d2 = "c1 c2 c3 " + run + " " + (1 to 7).map(i => s"d$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft_span").toString
    Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val spans = operators.DedupQueries.spanDedup.run(spark, tmp).collect()
    for (r <- spans) {
      assert(r.getLong(2) == 1L, s"n_dup_spans: $r")
      assert(r.getInt(3) == 15, s"max_span_len: $r")
      assert(r.getLong(4) == 15L, s"n_dup_tokens: $r")
    }
    // the aligned chunk pass keeps every chunk (finds no duplicates)
    val chunks = operators.DedupQueries.chunkDedup.run(spark, tmp).collect()
    for (r <- chunks)
      assert(r.getInt(1) == r.getInt(2), s"chunk grid dropped a chunk: $r")
  }

  test("span removal excises unaligned duplicates but keeps the first occurrence") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // cross-doc: the shared 15-token run sits at offset 7 in doc 1 and
    // offset 3 in doc 2 — doc 1 (globally first) must survive intact,
    // doc 2 must lose exactly the run and nothing else
    val run = (1 to 15).map(i => s"r$i").mkString(" ")
    val d1 = (1 to 7).map(i => s"a$i").mkString(" ") + " " + run + " b1 b2 b3"
    val d2 = "c1 c2 c3 " + run + " " + (1 to 7).map(i => s"d$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft_spanrm").toString
    Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = operators.DedupQueries.spanRemoval.run(spark, tmp).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getInt(3), r.getString(4))).toMap
    assert(rows(1L) == ((25, 0L, 25, md5hex(d1))), rows(1L))
    val d2clean = "c1 c2 c3 " + (1 to 7).map(i => s"d$i").mkString(" ")
    assert(rows(2L) == ((25, 15L, 10, md5hex(d2clean))), rows(2L))

    // intra-doc: the run repeated inside ONE document — the first copy
    // stays, the second is excised, the bridge tokens survive
    val d3 = run + " x1 x2 " + run
    val tmp2 = java.nio.file.Files.createTempDirectory("graft_spanrm2").toString
    Seq((7L, d3)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp2/documents.parquet")
    val intra = operators.DedupQueries.spanRemoval.run(spark, tmp2).collect()
    assert(intra.length == 1)
    val r3 = intra(0)
    assert(r3.getInt(1) == 32 && r3.getLong(2) == 15L && r3.getInt(3) == 17,
      r3.toString)
    assert(r3.getString(4) == md5hex(run + " x1 x2"), r3.toString)
  }

  test("span provenance attributes duplicated windows to the first doc") {
    // R is seeded by doc 1 and carried by docs 2 and 3 (different
    // offsets); S is seeded by doc 2 and carried by doc 3. Each pure
    // 15-token run contributes exactly 6 stride-1 windows; windows
    // straddling run boundaries mix in unique filler and never
    // duplicate. Expected attribution: 2->1 and 3->1 via R, 3->2 via
    // S — and NO (src=dup) intra rows, NO pair between docs that only
    // share via a common source.
    val runR = (1 to 15).map(i => s"r$i").mkString(" ")
    val runS = (1 to 15).map(i => s"s$i").mkString(" ")
    val d1 = (1 to 5).map(i => s"a$i").mkString(" ") + " " + runR +
      " b1 b2 b3"
    val d2 = "c1 c2 c3 " + runR + " x1 " + runS
    val d3 = runS + " y1 y2 " + runR
    val tmp = java.nio.file.Files.createTempDirectory("graft_spanpv").toString
    Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = operators.DedupQueries.spanProvenance.run(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, 2L, 6L), (1L, 3L, 6L), (2L, 3L, 6L)),
      rows.mkString(";"))
  }

  test("span removal and span detection agree on random corpora") {
    // algebraic consistency on seeded random corpora with planted
    // cross-doc runs: (1) kept + removed = total per doc; (2) removal
    // never excises more than detection flags (first occurrences are
    // SPARED by removal but COUNTED by detection, so removed ≤
    // detected per doc); (3) a doc with no detected spans loses
    // nothing. Catches drift between the two recurrences (e.g. an
    // island-merge or gate change landing in only one of them).
    val rnd = new scala.util.Random(41)
    for (corpus <- 1 to 2) {
      val vocab = (1 to 50).map(i => s"w$i")
      val docs0 = (1 to 24).map { id =>
        val len = 5 + rnd.nextInt(36)
        id.toLong -> Seq.fill(len)(vocab(rnd.nextInt(vocab.size)))
      }
      // plant a 12-token run from one doc into another at a random
      // offset so at least one real cross-doc duplicate exists — the
      // donor must be a DIFFERENT doc with ≥12 tokens, or the planted
      // copy is the only contiguous occurrence and nothing duplicates
      val donors = docs0.filter(d => d._1 != 23L && d._2.size >= 12)
      assert(donors.nonEmpty, "fixture needs one >=12-token donor")
      val run = donors(rnd.nextInt(donors.size))._2.take(12)
      val docs = docs0.map { case (id, toks) =>
        if (id == 23L) {
          val at = rnd.nextInt(toks.size)
          (id, toks.take(at) ++ run ++ toks.drop(at))
        } else (id, toks)
      }
      val tmp = java.nio.file.Files
        .createTempDirectory(s"graft_spanprop$corpus").toString
      docs.map { case (id, toks) => (id, toks.mkString(" ")) }
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val rem = operators.DedupQueries.spanRemoval.run(spark, tmp)
        .collect().map(r => r.getLong(0) ->
          (r.getInt(1), r.getLong(2), r.getInt(3))).toMap
      val det = operators.DedupQueries.spanDedup.run(spark, tmp)
        .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
      for ((id, (nTok, nRem, nKept)) <- rem) {
        assert(nKept + nRem == nTok, s"doc $id: $nKept + $nRem != $nTok")
        assert(nRem <= det(id),
          s"doc $id removed $nRem > detected ${det(id)}")
        if (det(id) == 0L) assert(nRem == 0L, s"doc $id: removed with no spans")
      }
      // the planted run must actually have been detected somewhere
      assert(det.values.sum > 0, "planted duplicate went undetected")
    }
  }

  test("streaming near-dup classify equals the batch dual across micro-batches") {
    // planted ingest: an exact copy, a token-reorder near-dup (same
    // token SET → same minhash signature, different digest), a novel
    // doc — streamed one file per micro-batch against the frozen index
    val ex1 = "alpha beta gamma delta epsilon zeta eta theta"
    val ex2 = "one two three four five six seven eight nine ten"
    val near = "theta eta zeta epsilon delta gamma beta alpha" // reorder
    val novel = "xx yy zz ww vv uu tt ss"
    val tmp = java.nio.file.Files.createTempDirectory("graft_sneardup").toString
    Seq((1L, ex1, "src1"), (2L, ex2, "src1"),
      (10L, ex1, "src9"), (11L, near, "src9"), (12L, novel, "src9"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val stream = operators.DedupQueries.streamNearDup.run(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    val batch = operators.DedupQueries.incremental.run(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(stream.toSeq == batch.toSeq,
      s"stream ${stream.toSeq} != batch ${batch.toSeq}")
    assert(stream.map(t => t._1 -> t._3).toMap ==
      Map(10L -> "exact", 11L -> "near", 12L -> "novel"), stream.toSeq)
    // the stream genuinely ran multiple micro-batches (one per file),
    // each landing in its own idempotent overwrite partition
    val outDir = java.nio.file.Paths.get(
      operators.DdlDmlQueries.lastScratch("stream_neardup"), "out")
    val batchDirs = scala.util.Using.resource(
        java.nio.file.Files.list(outDir)) { st =>
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("b=")).toSeq
    }
    assert(batchDirs.size >= 2, s"expected multiple micro-batches: $batchDirs")
  }

  test("count-min estimates dominate true counts and match a replayed sketch") {
    import graft.functions.Fnv64
    // known counts: alpha×5, beta×3, gamma×1
    val docs = Seq((1L, "alpha alpha beta gamma alpha"),
      (2L, "alpha beta beta alpha"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_cms").toString
    docs.toDF("doc_id", "text").withColumn("source", lit("fixture"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = operators.TextQueries.cmsHeavyHitters.run(spark, tmp).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // replay the d=4 × w=32 sketch with the same hash family in-process
    val trueCounts = Map("alpha" -> 5L, "beta" -> 3L, "gamma" -> 1L)
    def buckets(tok: String): Seq[Int] = (0 until 4).map { j =>
      val h = Fnv64.mix(Fnv64.hashBytes(tok.getBytes("UTF-8"), 0L)
        + (j + 1) * 0x9e3779b97f4a7c15L)
      (((h % 32) + 32) % 32).toInt
    }
    val cells = scala.collection.mutable.Map[(Int, Int), Long]()
      .withDefaultValue(0L)
    for ((t, n) <- trueCounts; (b, j) <- buckets(t).zipWithIndex)
      cells((j, b)) += n
    assert(out.keySet == trueCounts.keySet)
    for ((t, n) <- trueCounts) {
      val est = buckets(t).zipWithIndex.map { case (b, j) => cells((j, b)) }.min
      assert(est >= n, "CMS estimates are one-sided")
      assert(out(t) == ((n, est, est - n)), s"$t: ${out(t)} vs ($n, $est)")
    }
  }

  test("language id picks the profile language on real sentences") {
    val fixtures = Seq(
      (1L, "the cat sat on the mat and looked at the dog", "en"),
      (2L, "der hund und die katze sind nicht auf der straße", "de"),
      (3L, "le chat est dans la maison et il est content pas triste", "fr"),
      (4L, "el perro y el gato no son amigos pero viven en la casa", "es"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_lang").toString
    fixtures.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("fixture"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = operators.TextQueries.langId.run(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
    assert(out(3L) == "fr")
    assert(out(4L) == "es")
  }

  test("minhash LSH dedup finds planted near-duplicates") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = ((1 to 38).map(i => s"token$i") ++ Seq("other", "words"))
      .mkString(" ")
    val unrelated = (100 to 140).map(i => s"word$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft_dedup").toString
    Seq((1L, base), (2L, nearDup), (3L, unrelated), (4L, base))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fx"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = operators.DedupQueries.minhashLsh.run(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._1 >= 1, "exact dup 1~4 not found")
    assert(out(1L)._2 > 0.9, "doc 1 best jaccard should be ~1 (doc 4)")
    assert(out(2L)._2 > 0.8, "near dup 2 should match 1 with high jaccard")
    assert(out(3L)._1 == 0, "unrelated doc flagged")

    val sim = operators.DedupQueries.simhash.run(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(sim(1L) >= 1, "simhash missed exact dup")
    assert(sim(3L) == 0, "simhash false positive on unrelated doc")

    val clusters = operators.DedupQueries.clusters.run(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(1L) == clusters(4L), "exact dups must share a cluster")
    assert(clusters(1L) == clusters(2L), "near dups must share a cluster")
    assert(clusters(3L) == 3L, "unrelated doc should head its own cluster")
  }

  test("embedding near-dup finds planted duplicate vectors via multi-table LSH") {
    val rng = new scala.util.Random(7)
    def randVec(): Array[Float] = Array.fill(64)(rng.nextGaussian().toFloat)
    val base = randVec()
    // near-dup: tiny perturbation keeps cosine > 0.99
    val near = base.map(v => v + 0.01f * rng.nextGaussian().toFloat)
    val vecs = Seq((1L, base, 0), (2L, base, 0), (3L, near, 0)) ++
      (4L to 200L).map(i => (i, randVec(), 1))
    val tmp = java.nio.file.Files.createTempDirectory("graft_embdup").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = operators.DedupQueries.embeddingNearDup.run(spark, tmp)
    val rows = out.collect()
    assert(rows.length == vecs.length, "must return one row per vector")
    val byId = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(byId(1L) >= 1, "exact dup vector 1~2 not found")
    assert(byId(2L) >= 1, "exact dup vector 2~1 not found")
    assert(byId(3L) >= 1, "near-dup vector 3 not found")
    // random 64-dim gaussians are near-orthogonal: no false positives
    assert((100L to 200L).forall(i => byId(i) == 0), "false positive on random vec")
    // scale shape: the candidate join must be keyed (tbl, bucket) + rep
    // pairing, never an unbounded bucket self-join
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.contains("vec_id#") || !plan.contains("< vec_id"),
      "all-pairs self-join reappeared:\n" + plan)
  }

  test("embedding near-dup recall holds for non-adjacent ids with interposed vectors") {
    // the chain-pairing scheme's stated weak spot: a bucket-mate with an id
    // BETWEEN two similar vectors breaks the chain in that table. Plant 20
    // near-dup pairs at ids (i, i+500) — 460 random vectors in between —
    // so every pair is maximally non-adjacent and collisions interpose.
    // Multi-table redundancy must still recover (almost) all pairs.
    val rng = new scala.util.Random(13)
    def randVec(): Array[Float] = Array.fill(64)(rng.nextGaussian().toFloat)
    val bases = (1L to 20L).map(i => i -> randVec())
    val mids = (21L to 480L).map(i => (i, randVec(), 1))
    val vecs = bases.map { case (i, b) => (i, b, 0) } ++ mids ++
      bases.map { case (i, b) =>
        (i + 500L, b.map(v => v + 0.005f * rng.nextGaussian().toFloat), 0)
      }
    val tmp = java.nio.file.Files.createTempDirectory("graft_embfar").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val byId = operators.DedupQueries.embeddingNearDup.run(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val recovered = (1L to 20L)
      .count(i => byId(i) >= 1 && byId(i + 500L) >= 1)
    assert(recovered >= 17,
      s"non-adjacent pair recall too low: $recovered of 20")
    // interposed random vectors must not be flagged
    assert((21L to 480L).count(i => byId(i) > 0) == 0,
      "false positive on interposed random vector")
  }

  test("cc dedup collapses a transitive near-dup chain one-hop cannot") {
    // rolling token windows: doc i holds tokens 2i..2i+41, so adjacent docs
    // share 40/44 tokens (jaccard ~0.9 → band collision near-certain) while
    // the chain endpoints (docs 1 and 15) share nothing. The component is a
    // PATH: doc 15 reaches doc 1 only through 13 intermediate hops, which
    // the one-hop x_dedup_clusters approximation cannot collapse but the
    // iterated hash-min propagation must.
    val chain = (1 to 15).map { i =>
      (i.toLong, (2 * i until 2 * i + 42).map(t => s"tok$t").mkString(" "))
    }
    val lone = Seq((99L, (500 to 540).map(t => s"far$t").mkString(" ")))
    val tmp = java.nio.file.Files.createTempDirectory("graft_cc").toString
    (chain ++ lone).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fx"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val cc = operators.DedupQueries.cc.run(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert((1 to 15).forall(i => cc(i.toLong)._1 == 1L),
      s"chain not fully collapsed: ${cc.view.mapValues(_._1).toMap}")
    assert(cc(1L)._2 == 15L, "chain cluster size must be 15")
    assert(cc(1L)._3 && !(2 to 15).exists(i => cc(i.toLong)._3),
      "exactly the min doc heads the chain cluster")
    assert(cc(99L) == ((99L, 1L, true)), "lone doc must stay a singleton")
  }

  test("vector kernels reject dimension mismatch instead of truncating") {
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(dotProduct($"a", $"b")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("dimension mismatch")))
  }

  test("exact dedup marks canonical rows correctly on planted dups") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dedup2").toString
    Seq((1L, "same text"), (2L, "same text"), (3L, "different"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fx"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = operators.DedupQueries.exact.run(spark, tmp).collect()
    val byId = rows.map(r => r.getLong(0) ->
      (r.getInt(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(byId(1L) == ((1, 2L, true)))
    assert(byId(2L) == ((2, 2L, false)))
    assert(byId(3L) == ((1, 1L, true)))
  }

  test("set-similarity join keeps the exact-threshold pair and drops below") {
    // docs 1,2: 9 shingles each sharing 8 → jaccard exactly 8/10 = τ —
    // the ≥ boundary must be INCLUDED and the prefix filter must not
    // miss it (completeness is the op's whole point vs LSH); doc 3
    // overlaps both at 7/11 < τ and must not pair
    val a = (1 to 11).map(i => s"a$i")
    val docsSeq = Seq(
      (1L, a.mkString(" "), "fx"),
      (2L, (a.take(10) :+ "b1").mkString(" "), "fx"),
      (3L, (a.take(9) ++ Seq("c1", "c2")).mkString(" "), "fx"))
    val tmp = writeDocs(docsSeq)
    val rows = operators.DedupQueries.setJoin.run(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.toSeq == Seq((1L, 2L, 8L, 9L, 9L, 0.8)),
      s"exactly the boundary pair: ${rows.toSeq}")
  }

  test("pagerank replays the integer fixed-point recurrence on a planted graph") {
    // docs 1,2 share their first 10-token chunk (edge 1↔2); doc 3 is
    // isolated (dangling). Integer PageRank is order-independent, so the
    // engine result must equal a serial replay of the recurrence.
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val docsSeq = Seq(
      (1L, shared + " " + (1 to 10).map(i => s"a$i").mkString(" "), "fx"),
      (2L, shared + " " + (1 to 10).map(i => s"b$i").mkString(" "), "fx"),
      (3L, (1 to 20).map(i => s"c$i").mkString(" "), "fx"))
    val tmp = writeDocs(docsSeq)
    val rows = operators.GraphQueries.pagerank.run(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val base = 1000000000000L / 3
    var r12 = base
    for (_ <- 1 to 5) r12 = (15 * base) / 100 + (85 * r12) / 100
    val dangling = (15 * base) / 100
    assert(rows(1L) == ((1L, r12)), s"node 1: ${rows(1L)}")
    assert(rows(2L) == ((1L, r12)), "symmetric pair must tie")
    assert(rows(3L) == ((0L, dangling)), "dangling keeps teleport share only")
  }

  test("triangle counting credits all three corners of a planted triangle") {
    // docs 1,2,3 pairwise share distinct chunks (a 3-cycle); doc 4 is
    // isolated — exactly one triangle, one count per corner
    def chunk(p: String) = (1 to 10).map(i => s"$p$i").mkString(" ")
    val docsSeq = Seq(
      (1L, chunk("x") + " " + chunk("y"), "fx"),
      (2L, chunk("x") + " " + chunk("z"), "fx"),
      (3L, chunk("y") + " " + chunk("z"), "fx"),
      (4L, chunk("w") + " " + chunk("q"), "fx"))
    val tmp = writeDocs(docsSeq)
    val rows = operators.GraphQueries.triangles.run(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      s"one triangle, three corners: $rows")
  }

  private def writeDocs(rows: Seq[(Long, String, String)]): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_docs").toString
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("label propagation merges a shared-chunk pair and keeps isolates") {
    // docs 1,2 share their first chunk (edge 1↔2); doc 3 isolated. The
    // self-vote rule must converge the pair onto min label 1 (pure
    // synchronous LPA would oscillate on a 2-node component forever)
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val tmp = writeDocs(Seq(
      (1L, shared + " " + (1 to 10).map(i => s"a$i").mkString(" "), "fx"),
      (2L, shared + " " + (1 to 10).map(i => s"b$i").mkString(" "), "fx"),
      (3L, (1 to 20).map(i => s"c$i").mkString(" "), "fx")))
    val rows = operators.GraphQueries.labelprop.run(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(1L) == ((1L, 2L)), s"node 1: ${rows(1L)}")
    assert(rows(2L) == ((1L, 2L)), "pair must converge to community 1")
    assert(rows(3L) == ((3L, 1L)), "isolate keeps its own singleton label")
  }

  test("2-hop reachability counts exactly-distance-2 nodes on a path") {
    // path 1—2—3 (1,2 share chunk x; 2,3 share chunk y): ends see one
    // node at distance 2, the middle sees none (its 2-paths loop back)
    def chunk(p: String) = (1 to 10).map(i => s"$p$i").mkString(" ")
    val tmp = writeDocs(Seq(
      (1L, chunk("x") + " " + chunk("a"), "fx"),
      (2L, chunk("x") + " " + chunk("y"), "fx"),
      (3L, chunk("y") + " " + chunk("b"), "fx")))
    val rows = operators.GraphQueries.khop.run(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == Map(1L -> 1L, 3L -> 1L),
      s"path ends reach one node at distance 2, middle none: $rows")
  }

  test("dsir selects the target-like raw doc over boilerplate") {
    // target doc (src18) establishes 'good' as the target feature; raw
    // doc 3 matches it, raw docs full of 'bad' score below. Top quarter
    // of 8 docs = 2 selected: the target doc itself + the target-like
    // raw doc (tie on identical text broken by doc_id)
    val good = Seq.fill(5)("good").mkString(" ")
    val bad = Seq.fill(5)("bad").mkString(" ")
    val tmp = writeDocs(Seq(
      (1L, good, "src18"), (2L, bad, "src0"), (3L, good, "src0"),
      (4L, bad, "src0"), (5L, bad, "src0"), (6L, bad, "src0"),
      (7L, bad, "src0"), (8L, bad, "src0")))
    val sel = operators.TextQueries.dsir.run(spark, tmp).collect()
      .map(r => (r.getInt(4), r.getLong(0))).sorted
    assert(sel.toSeq == Seq((1, 1L), (2, 3L)),
      s"rank 1 = target doc, rank 2 = target-like raw doc: ${sel.toSeq}")
  }

  test("hashed-TF embedding ranks an identical doc first with cosine 1") {
    // doc 10 repeats query doc 0's text exactly → identical sparse
    // vector, cosine 1.0 at rank 1 regardless of bucket collisions; the
    // half-overlap doc ranks below 1.0
    val tmp = writeDocs(Seq(
      (0L, "alpha alpha beta gamma", "fx"),
      (10L, "alpha alpha beta gamma", "fx"),
      (11L, "alpha beta delta epsilon", "fx")))
    val rows = operators.TextQueries.hashEmbed.run(spark, tmp).collect()
      .filter(_.getLong(0) == 0L)
      .map(r => (r.getInt(4), r.getLong(1), r.getDouble(3)))
    val byRank = rows.map(r => r._1 -> (r._2, r._3)).toMap
    assert(byRank(1) == ((10L, 1.0)), s"identical doc at rank 1: $byRank")
    assert(byRank(2)._1 == 11L && byRank(2)._2 < 1.0,
      s"partial overlap ranks second below 1.0: $byRank")
  }

  test("triplet mining picks the planted positive and hard negative") {
    import spark.implicits._
    // anchor 0 (label 0): vec 21 = same direction, same label → positive;
    // vec 22 = same direction but label 1 → the impostor hard negative
    // (cos 1 > the orthogonal same-label vec 23); margin = 1 − 1 = 0
    val e1 = Array(1f, 0f, 0f, 0f)
    val e2 = Array(0f, 1f, 0f, 0f)
    val vecs = Seq((0L, e1, 0), (21L, e1, 0), (22L, e1, 1), (23L, e2, 0),
      (24L, e2, 1))
    val tmp = java.nio.file.Files.createTempDirectory("graft_trip").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val rows = operators.VectorQueries.triplets.run(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(4),
        r.getDouble(6))).toMap
    assert(rows(0L) == ((21L, 22L, 0.0)),
      s"anchor 0: positive 21, hard negative 22, margin 0: ${rows(0L)}")
  }

  test("expectations gate flags planted violations and passes clean checks") {
    import spark.implicits._
    // dup id 1; lang 'xx' out of vocabulary; doc 3's n_chars lies
    val tmp = java.nio.file.Files.createTempDirectory("graft_exp").toString
    Seq((1L, "hello", "en", "fx", 5L), (1L, "world", "en", "fx", 5L),
      (2L, "abc", "xx", "fx", 3L), (3L, "abcd", "en", "fx", 99L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = operators.TextQueries.expectations.run(spark, tmp).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(rows("row_count") == ((4L, true)))
    assert(rows("null_text") == ((0L, true)))
    assert(rows("dup_doc_id") == ((1L, false)))
    assert(rows("bad_lang") == ((1L, false)))
    assert(rows("len_mismatch") == ((1L, false)))
    assert(rows("len_out_of_bounds") == ((0L, true)))
  }

  test("drift PSI is exactly zero for identically distributed halves") {
    // even/odd ids carry pairwise-identical text and lang → every bucket
    // count matches across sides, every PSI term is (p−p)·ln(1) = 0
    val tmp = writeDocs((0 until 10).flatMap { i =>
      val text = (1 to (i + 1) * 12).map(_ => "w").mkString(" ")
      Seq((2L * i, text, "fx"), (2L * i + 1, text, "fx"))
    })
    val rows = operators.TextQueries.driftPsi.run(spark, tmp).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(rows == Map("len_bucket" -> 0.0, "lang" -> 0.0), s"got $rows")
  }

  test("minhash calibration puts an identical pair in error decile 0") {
    // docs 1,2 identical (jaccard 1, every signature position equal →
    // est 1, error 0); doc 3 disjoint and must produce no candidate at
    // all — the calibration histogram must be exactly one decile-0 row
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val tmp = writeDocs(Seq(
      (1L, text, "fx"), (2L, text, "fx"),
      (3L, (1 to 30).map(i => s"z$i").mkString(" "), "fx")))
    val rows = operators.DedupQueries.minhashCalibration.run(spark, tmp)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(rows.toSeq == Seq((0, 1L, 1.0, 1.0)), rows.toSeq.toString)
  }

  test("k-anonymity suppresses small groups into one residual row") {
    // 9 docs in (en, big) — released; 2 + 1 docs in small groups —
    // collapsed into the '*' residual with recomputed (not averaged)
    // average
    val rows = (1L to 9L).map(i => (i, s"doc $i text", "big")) ++
      Seq((10L, "tiny a", "s1"), (11L, "tiny bb", "s1"),
        (12L, "tiny ccc", "s2"))
    val tmp = writeDocs(rows)
    val out = operators.TextQueries.kanon.run(spark, tmp).collect()
    val byKey = out.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(byKey.contains(("en", "big")), "large group must be released")
    assert(!byKey.keys.exists(_._2 == "s1"),
      "small groups must not appear under their own name")
    val res = byKey(("*", "*"))
    assert(res.getLong(2) == 3L && res.getBoolean(4))
    // avg over the 3 collapsed docs: (6 + 7 + 8) / 3 = 7.0
    assert(res.getDouble(3) == 7.0, res.toString)
  }

  test("shard manifest partitions the corpus with verifiable checksums") {
    val rows = operators.TextQueries.manifest.run(spark, sf).collect()
    val total = Tables.table(spark, sf, "documents").count()
    assert(rows.map(_.getLong(1)).sum == total,
      "shards must partition the corpus exactly")
    assert(rows.map(_.getString(3)).distinct.length == rows.length,
      "membership checksums must be distinct across shards")
    // verify one shard's checksum independently, the way a consumer would
    val shard0 = Tables.table(spark, sf, "documents")
      .select(col("doc_id"),
        pmod(graft.functions.HashFunctions.fingerprint64(
          col("doc_id").cast("string")), lit(8L)).as("sh"))
      .filter(col("sh") === 0).collect().map(_.getLong(0)).sorted
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest(shard0.mkString(",").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(rows.find(_.getLong(0) == 0L).get.getString(3) == expected,
      "shard 0 checksum must match an independent recomputation")
  }

  test("lm score ranks corpus-typical text above rare-bigram text") {
    // 5 docs of common alternating bigrams + 1 doc with a once-seen
    // bigram: the LM must score the rare doc lower (higher perplexity)
    val tmp = writeDocs(
      (1L to 5L).map(i => (i, "a b a b a b", "fx")) :+
        (9L, "x y", "fx"))
    val byId = operators.TextQueries.lmScore.run(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    val common = byId(1L)
    val rare = byId(9L)
    assert(common.getLong(1) == 5L && rare.getLong(1) == 1L)
    assert(rare.getDouble(2) < common.getDouble(2),
      s"rare-bigram doc must score lower: $rare vs $common")
    assert(rare.getDouble(3) > common.getDouble(3),
      "perplexity must invert the score order")
    // add-one smoothing: the rare bigram is ln((1+1)/(1+4)) = ln(0.4)
    assert(math.abs(rare.getDouble(2) - math.log(0.4)) < 5e-5, rare.toString)
  }

  test("hybrid RRF fuses lexical and vector rank lists") {
    val out = operators.TextQueries.hybridRrf.run(spark, sf).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L to 4L).toSet, byQ.keySet.toString)
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length))
      val scores = sorted.map(_.getDouble(3))
      assert(scores.sliding(2).forall(p => p(0) >= p(1)), scores.toSeq)
      sorted.foreach { r =>
        assert(r.getBoolean(4) || r.getBoolean(5),
          "every fused hit must come from at least one list")
        assert(r.getDouble(3) > 0.0)
        // a doc in BOTH lists must outscore any single-list doc's maximum
        // possible score only when ranks allow; minimally: dual-listed
        // rows score above 1/61 + 0 floor for single rank-1
        if (r.getBoolean(4) && r.getBoolean(5))
          assert(r.getDouble(3) > 1.0 / 61,
            "dual-source score must exceed a lone rank-1 score")
      }
    }
  }

  test("weighted sampling keeps high-weight docs without replacement") {
    // 10 heavy docs (2000 chars → weight 2000) among 90 light (10 chars):
    // with exponential keys every heavy doc should make the top-50 cut
    val heavy = (0L until 10L).map(i => (i, "h" * 2000, "fx"))
    val light = (10L until 100L).map(i => (i, "l" * 10, "fx"))
    val tmp = writeDocs(heavy ++ light)
    val out = operators.TextQueries.wsample.run(spark, tmp).collect()
    assert(out.length == 50, "sample must be exactly k rows")
    assert(out.map(_.getLong(1)).distinct.length == 50,
      "without replacement: no doc may repeat")
    val sampled = out.map(_.getLong(1)).toSet
    assert((0L until 10L).forall(sampled), "every heavy doc must survive")
    assert(out.map(_.getInt(0)).toSeq == (1 to 50),
      "ranks must be contiguous")
  }

  test("entropy signals separate degenerate from diverse docs") {
    val tmp = writeDocs(Seq(
      (1L, "a a a a a", "fx"),                       // one repeated token
      (2L, "w x y z", "fx"),                         // 4 uniform tokens
      (3L, "the quick brown fox jumps over lazy dogs", "fx")))
    val byId = operators.TextQueries.entropy.run(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1: all tokens identical → token entropy exactly 0, low-entropy
    assert(byId(1L).getDouble(4) == 0.0)
    assert(byId(1L).getBoolean(5), "degenerate doc not flagged")
    // doc 2: 4 equiprobable tokens → token entropy exactly log2(4) = 2
    assert(math.abs(byId(2L).getDouble(4) - 2.0) < 1e-9)
    // doc 3: diverse natural chars → above the 3.5 spam threshold
    assert(byId(3L).getDouble(2) > 3.5, byId(3L).toString)
    assert(!byId(3L).getBoolean(5))
    // char entropy strictly grows with diversity
    assert(byId(1L).getDouble(2) < byId(2L).getDouble(2))
    assert(byId(2L).getDouble(2) < byId(3L).getDouble(2))
  }

  test("chunk dedup drops repeated 10-token chunks and reconstructs docs") {
    val a = (1 to 10).map(i => s"a$i").mkString(" ")   // chunk A
    val b = (1 to 10).map(i => s"b$i").mkString(" ")   // chunk B
    val c = (1 to 10).map(i => s"c$i").mkString(" ")   // chunk C
    val tmp = writeDocs(Seq(
      (1L, s"$a $b", "fx"),   // first owner of A and B → keeps both
      (2L, s"$a $c", "fx"),   // A is doc 1's boilerplate → keeps only C
      (3L, s"$b $a", "fx")))  // both chunks already seen → empty
    val byId = operators.DedupQueries.chunkDedup.run(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getInt(1) == 2 && byId(1L).getInt(2) == 2)
    assert(byId(1L).getString(3) == s"$a $b")
    assert(byId(2L).getInt(2) == 1, "doc 2 must keep exactly chunk C")
    assert(byId(2L).getString(3) == c)
    assert(byId(3L).getInt(2) == 0 && byId(3L).getString(3).isEmpty,
      "doc 3 is pure boilerplate and must reconstruct empty")
  }

  test("repetition signals flag a degenerate doc and pass a clean one") {
    val tmp = writeDocs(Seq(
      (1L, "a a a a a", "fx"),          // one token repeated 5×
      (2L, "w x y z", "fx"),            // all-distinct tokens
      (3L, "solo", "fx")))              // 1 token: no bigrams, no crash
    val byId = operators.TextQueries.repetition.run(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    val rep = byId(1L)
    assert(math.abs(rep.getDouble(2) - 0.8) < 1e-12) // dup_token_frac 4/5
    assert(math.abs(rep.getDouble(3) - 1.0) < 1e-12) // top_token_frac
    assert(math.abs(rep.getDouble(4) - 1.0) < 1e-12) // top_bigram_frac
    assert(rep.getBoolean(6), "degenerate doc not flagged repetitive")
    val clean = byId(2L)
    assert(clean.getDouble(2) == 0.0)
    assert(math.abs(clean.getDouble(3) - 0.25) < 1e-12)
    assert(clean.getDouble(5) == 0.0) // dup_bigram_frac
    assert(!clean.getBoolean(6), "clean doc wrongly flagged")
    val solo = byId(3L)
    assert(solo.getInt(1) == 1)
    assert(solo.getDouble(4) == 0.0 && solo.getDouble(5) == 0.0,
      "a 1-token doc has no bigrams and must score 0, not crash")
    assert(!solo.getBoolean(6))
  }

  test("bm25 ranks tf×idf with length normalization on planted docs") {
    // query 0 = (spark, join); fillers avoid every other query term.
    // 10: both terms, high tf, short  → rank 1
    // 11: both terms once, longer doc → rank 2 (idf(join) dominates)
    // 12: one term, short             → rank 3
    // 13: no query terms              → absent
    val tmp = writeDocs(Seq(
      (10L, "spark join spark join spark", "fx"),
      (11L, "spark aa bb cc dd ee ff join", "fx"),
      (12L, "spark gg hh", "fx"),
      (13L, "ii jj kk ll", "fx")))
    val q0 = operators.TextQueries.bm25.run(spark, tmp).collect()
      .filter(_.getInt(0) == 0)
    assert(q0.map(_.getLong(2)).toSeq == Seq(10L, 11L, 12L),
      q0.mkString("; "))
    assert(q0.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
    val scores = q0.map(_.getDouble(3))
    assert(scores.sliding(2).forall(p => p(0) >= p(1)), scores.toSeq)
    assert(scores.forall(_ > 0), "BM25 idf must stay positive")
  }

  test("contamination finds benchmark n-gram overlap and skips the benchmark") {
    val bench = "one two three four five six seven eight"
    val tmp = writeDocs(Seq(
      (0L, bench, "fx"),                         // 0 % 97 == 0 → benchmark
      (1L, "xx two three four five six yy", "fx"), // shares 5-gram "two…six"
      (2L, "p q r s t u v w", "fx")))            // disjoint vocabulary
    val rows = operators.TextQueries.contamination.run(spark, tmp).collect()
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(!byId.contains(0L), "benchmark doc must not be scored")
    assert(byId(1L).getLong(2) == 1L, "planted 5-gram overlap missed")
    assert(byId(1L).getBoolean(4))
    assert(byId(2L).getLong(2) == 0L && !byId(2L).getBoolean(4))
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("temperature mixing upsamples small sources relative to large ones") {
    // big: 400 docs, small: 25 → ⌊√n⌋ weights 20 and 5, denom 25, so the
    // keep rates are 200·20/(25·400) = 0.4 and 200·5/(25·25) = 1.6 (→ all)
    val docs = (0 until 400).map(i =>
      (i.toLong, s"big source doc $i with filler words $i", "big")) ++
      (0 until 25).map(i =>
        (1000L + i, s"small source doc $i entirely different $i", "small"))
    val tmp = writeDocs(docs)
    val bySrc = operators.TextQueries.mix.run(spark, tmp).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(bySrc("small") == ((25L, 25L)), "rate>1 must keep everything")
    val (bigTotal, bigKept) = bySrc("big")
    assert(bigTotal == 400L)
    // hash buckets are uniform-ish: expect ~160 kept, accept a wide band
    assert(bigKept > 100 && bigKept < 220, s"big kept $bigKept of 400")
  }

  test("incremental dedup classifies a new batch as exact/near/novel") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tmp = writeDocs(Seq(
      (1L, base, "src0"),                         // existing corpus
      (2L, "cold warm hot mild crisp damp dry wet", "src0"),
      (100L, base, "src9"),                       // identical → exact
      (101L, base + " lambda", "src9"),           // jaccard 10/11 → near
      (102L, "red green blue cyan pink teal", "src9"))) // novel
    val byId = operators.DedupQueries.incremental.run(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    assert(byId.keySet == Set(100L, 101L, 102L),
      "output must be exactly the new batch")
    assert(byId(100L)._2 == "exact")
    assert(byId(101L)._2 == "near",
      s"appended-token doc classified ${byId(101L)}")
    assert(math.abs(byId(101L)._1 - 10.0 / 11.0) < 1e-12)
    assert(byId(102L)._2 == "novel" && byId(102L)._1 == 0.0)
  }

  test("budget apportionment sums exactly to the budget (hamilton replay)") {
    // √-weights 9/4/2 over budget 100000: bases 60000/26666/13333 leave
    // one leftover unit, which the largest remainder (mid, rem 10) takes
    val docsSeq =
      (0 until 9).map(i => (i.toLong, ("a " * 10).trim, "big")) ++
        (100 until 104).map(i => (i.toLong, ("b " * 5).trim, "mid")) ++
        Seq((200L, ("c " * 7).trim, "tiny"))
    val tmp = writeDocs(docsSeq)
    val rows = operators.TextQueries.budgetMix.run(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val counts = Map("big" -> 90L, "mid" -> 20L, "tiny" -> 7L)
    val w = counts.map { case (k, n) =>
      k -> math.floor(math.sqrt(n.toDouble)).toLong }
    val sTot = w.values.sum
    val base = w.map { case (k, v) => k -> 100000L * v / sTot }
    val rem = w.map { case (k, v) => k -> 100000L * v % sTot }
    val leftover = 100000L - base.values.sum
    val order = rem.toSeq.sortBy { case (k, r) => (-r, k) }.map(_._1)
    val quota = base ++
      order.take(leftover.toInt).map(k => k -> (base(k) + 1L)).toMap
    assert(rows.map(_._4).sum == 100000L, "quotas must sum to the budget")
    for ((src, n, wt, q) <- rows) {
      assert(n == counts(src), s"token count for $src")
      assert(wt == w(src), s"weight for $src")
      assert(q == quota(src), s"quota for $src: got $q want ${quota(src)}")
    }
  }

  test("cdc chunking re-syncs on shifted boilerplate (md5 replay)") {
    // two docs share a 30-token run at offsets 5 and 9; content-defined
    // cuts re-sync inside the run, so interior chunks dup across docs.
    // The whole pipeline is replayed in-process through
    // java.security.MessageDigest (independent of Spark's md5).
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def chunks(toks: Seq[String]): Seq[String] = {
      val n = toks.size
      val cuts = if (n >= 5) (3 to n - 2).filter { i =>
        val nib = md5hex(toks.slice(i - 3, i + 1).mkString(" ")).charAt(0)
        nib == '0' || nib == '1'
      } else Seq.empty[Int]
      val starts = 0 +: cuts.map(_ + 1)
      starts.indices.map { j =>
        val end = if (j == starts.size - 1) n else starts(j + 1)
        toks.slice(starts(j), end).mkString(" ")
      }
    }
    val run = (1 to 30).map(i => s"r$i")
    val all = Seq(
      1L -> ((1 to 5).map(i => s"p$i") ++ run ++ Seq("s1", "s2", "s3")),
      2L -> ((1 to 9).map(i => s"q$i") ++ run ++ Seq("t1", "t2")),
      3L -> (1 to 20).map(i => s"u$i"))
    val tmp = writeDocs(all.map { case (id, t) => (id, t.mkString(" "), "s") })
    val counts = all.flatMap { case (_, t) => chunks(t) }
      .groupBy(identity).map { case (c, xs) => c -> xs.size }
    val expected = all.map { case (id, t) =>
      val cs = chunks(t)
      (id, t.size, cs.size.toLong, t.size.toDouble / cs.size,
        cs.count(c => counts(c) > 1).toLong)
    }
    assert(expected.take(2).forall(_._5 > 0),
      "fixture must plant cross-offset dup chunks — adjust run tokens")
    val rows = operators.DedupQueries.cdcChunks.run(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getLong(4))).toSeq
    assert(rows == expected, s"$rows vs $expected")
  }

  test("kmv bottom-k overlap matches an in-process sketch replay") {
    import graft.functions.Fnv64
    // one 3-token shingle per doc; 50 shared + 50 private per side →
    // exact Jaccard 50/150, and 100 hashes per side exercise the k=64
    // sketch truncation
    def sideDocs(off: Long, tag: String) =
      (0 until 50).map(k => (off + 2 * k, s"common w$k x", "s")) ++
        (50 until 100).map(k => (off + 2 * k, s"$tag w$k x", "s"))
    val tmp = writeDocs(sideDocs(0L, "aonly") ++ sideDocs(1L, "bonly"))
    val r = operators.DedupQueries.kmvOverlap.run(spark, tmp).collect()(0)
    def h1(s: String) = Fnv64.mix(
      Fnv64.hashBytes(s.getBytes("UTF-8"), 0L) + 0x9e3779b97f4a7c15L)
    def shs(tag: String) = (0 until 50).map(k => s"common w$k x") ++
      (50 until 100).map(k => s"$tag w$k x")
    val aSk = shs("aonly").map(h1).distinct.sorted.take(64).toSet
    val bSk = shs("bonly").map(h1).distinct.sorted.take(64).toSet
    val nBoth = (aSk ++ bSk).toSeq.sorted.take(64)
      .count(h => aSk(h) && bSk(h))
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((100L, 100L, 50L, 150L)))
    assert(r.getDouble(4) == 50.0 / 150.0)
    assert(r.getDouble(5) == nBoth / 64.0,
      s"sketch estimate ${r.getDouble(5)} vs replay ${nBoth / 64.0}")
  }

  test("hll registers and estimate match an in-process replay") {
    import graft.functions.Fnv64
    // ~60 docs over a 12-word vocab → a few hundred distinct shingles
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu")
    val docSeq = (0 until 60).map { i =>
      val words = (0 until 20).map(j => vocab((i * 7 + j * 5 + i * j) % 12))
      (i.toLong, words.mkString(" "), "s")
    }
    val tmp = writeDocs(docSeq)
    val r = operators.TextQueries.hllDistinct.run(spark, tmp).collect()(0)
    def shingles(text: String): Seq[String] = {
      val t = text.split(" ", -1).toSeq
      (0 to math.max(t.size - 3, 0)).map(i => t.slice(i, i + 3).mkString(" "))
    }
    val distinct = docSeq.flatMap { case (_, tx, _) => shingles(tx) }.distinct
    val regs = scala.collection.mutable.Map[Long, Int]()
    for (sh <- distinct) {
      val h = Fnv64.mix(
        Fnv64.hashBytes(sh.getBytes("UTF-8"), 0L) + 0x9e3779b97f4a7c15L)
      val b = ((h % 64) + 64) % 64
      val su = h >>> 6
      val rho =
        if (su == 0L) 59 else java.lang.Long.numberOfTrailingZeros(su) + 1
      regs(b) = math.max(regs.getOrElse(b, 0), rho)
    }
    val sScaled = BigInt(64 - regs.size) * BigInt(2).pow(59) +
      regs.values.map(m => BigInt(2).pow(59 - m)).sum
    val est = 0.709 * 4096.0 * 576460752303423488.0 / sScaled.toDouble
    assert(r.getLong(0) == distinct.size.toLong, "exact distinct count")
    assert(r.getLong(1) == regs.size.toLong, "non-zero register count")
    assert(math.abs(r.getDouble(2) - est) < 1e-9 * est,
      s"estimate ${r.getDouble(2)} vs replay $est")
    assert(math.abs(r.getDouble(3)) < 0.5,
      s"m=64 estimate should land within 50%: rel_err ${r.getDouble(3)}")
  }

  test("containment join finds the quoted doc but not the reverse direction") {
    // doc 1 (10 tokens → 8 shingles) is fully quoted at the head of
    // doc 2 (28 tokens → 26 shingles): C(1→2) = 8/8 = 1.0 reported,
    // C(2→1) = 8/26 < 0.8 suppressed — the asymmetry Jaccard cannot
    // express (J = 8/26 would miss the pair entirely). Doc 3 unrelated.
    val quoted = (1 to 10).map(i => s"a$i").mkString(" ")
    val tmp = writeDocs(Seq(
      (1L, quoted, "fx"),
      (2L, quoted + " " + (1 to 20).map(i => s"x$i").mkString(" "), "fx"),
      (3L, (1 to 15).map(i => s"c$i").mkString(" "), "fx")))
    val rows = operators.DedupQueries.containment.run(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.toSeq == Seq((1L, 2L, 8L, 8L, 1.0)),
      s"exactly the quoted direction: ${rows.toSeq}")
  }

  test("containment join includes the exact 4/5 boundary") {
    // docs 4,5 share 4 of each other's 5 shingles → both directions sit
    // exactly at τ = 0.8 and must BOTH be reported (≥, not >)
    val t = (1 to 6).map(i => s"t$i")
    val tmp = writeDocs(Seq(
      (4L, (t :+ "t7").mkString(" "), "fx"),
      (5L, (t :+ "z").mkString(" "), "fx")))
    val rows = operators.DedupQueries.containment.run(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq.sorted
    assert(rows == Seq((4L, 5L, 4L, 5L, 0.8), (5L, 4L, 4L, 5L, 0.8)),
      s"both boundary directions: $rows")
  }

  test("mrl truncation sweep reports a full recall row per dims level") {
    val rows = operators.VectorQueries.mrlTruncate.run(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq(8, 16, 32), s"dims levels: ${rows.toSeq}")
    for ((dims, nTrue, hits, recall) <- rows) {
      assert(nTrue == 30L, s"dims=$dims ground truth must be 10q × top-3")
      assert(hits >= 0L && hits <= nTrue, s"dims=$dims hits in range")
      assert(recall >= 0.0 && recall <= 1.0 && recall == hits.toDouble / 30.0,
        s"dims=$dims recall consistent")
    }
  }

  test("kfold assignment partitions the corpus and is deterministic") {
    val tmp = writeDocs((1L to 20L).map(i =>
      (i, s"doc $i body", "fx")))
    def run() = operators.TextQueries.kfold.run(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val rows = run()
    assert(rows.map(_._2).sum == 20L, "folds partition the corpus")
    assert(rows.forall { case (f, nVal, _, nTrain) =>
      f >= 0 && f < 5 && nTrain == 20L - nVal }, s"complement sizes: ${rows.toSeq}")
    assert(rows.toSeq == run().toSeq, "assignment must be deterministic")
  }

  test("split leakage audit flags a straddling cluster with consistent counts") {
    // 20 byte-identical docs → one minhash cluster; the salted split hash
    // scatters ids 1..20 across train/val/test, so the cluster MUST
    // straddle and appear in the audit with all 20 members accounted for
    val body = (1 to 30).map(i => s"w$i").mkString(" ")
    val tmp = writeDocs((1L to 20L).map(i => (i, body, "fx")))
    val rows = operators.DedupQueries.splitLeakage.run(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.length == 1, s"one straddling cluster: ${rows.toSeq}")
    val (cid, n, nSplits, nTrain, nVal, nTest) = rows(0)
    assert(cid == 1L && n == 20L, "cluster head is min doc, all members in")
    assert(nSplits >= 2 && nTrain + nVal + nTest == 20L,
      s"membership partition: $rows")
  }

  test("kneser-ney lm replays the hand-computed two-doc case") {
    // corpus "a b" / "a c": c(a·)=2, both bigrams count 1, a has 2
    // distinct successors, b and c each 1 distinct predecessor, 2 bigram
    // types → P = max(1−.75,0)/2 + (.75·2/2)·(1/2) = 0.5 for both docs
    val tmp = writeDocs(Seq((1L, "a b", "fx"), (2L, "a c", "fx")))
    val rows = operators.TextQueries.lmScoreKn.run(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val lp = math.rint(math.log(0.5) * 10000) / 10000
    val ppl = math.rint(math.exp(-lp) * 10000) / 10000
    assert(rows.toSeq == Seq((1L, 1L, lp, ppl), (2L, 1L, lp, ppl)),
      s"hand replay: ${rows.toSeq} vs lp=$lp ppl=$ppl")
  }

  test("more-like-this returns ranked non-self neighbors with bounded overlap") {
    val rows = operators.TextQueries.moreLikeThis.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (q, rk, d, _, ns) =>
      rk >= 1 && rk <= 3 && d != q && ns >= 1 && ns <= 5 })
    rows.groupBy(_._1).values.foreach { g =>
      val byRank = g.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"scores must be non-increasing in rank: ${g.toSeq}")
    }
  }

  test("centroid drift report accounts for every base and ingest vector") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val rows = operators.VectorQueries.centroidDrift.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.length == 16, "one row per centroid, empty clusters included")
    val emb = Tables.table(spark, sf, "embeddings")
    val nBase = emb.filter(pmod(col("vec_id"), lit(8)) =!= 0).count()
    val nNew = emb.filter(pmod(col("vec_id"), lit(8)) === 0).count()
    assert(rows.map(_._2).sum == nBase && rows.map(_._3).sum == nNew,
      "occupancies must partition both corpora")
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-9 &&
      math.abs(rows.map(_._5).sum - 1.0) < 1e-9,
      "smoothed shares sum to 1")
    assert(rows.forall(r => !r._6.isNaN && !r._6.isInfinite),
      "psi terms finite (add-one smoothing)")
  }

  test("residual ivfpq returns a full valid top-3 per query") {
    val rows = operators.VectorQueries.pqResidualTopK.run(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(rows.length == 30, s"10 queries × top-3: ${rows.length}")
    assert(rows.forall { case (q, rk, v, d, cos) =>
      rk >= 1 && rk <= 3 && v != q && d >= 0.0 && math.abs(cos) <= 1.0 })
    // within each query, ADC distances are non-decreasing in rank
    rows.groupBy(_._1).values.foreach { g =>
      val ds = g.sortBy(_._2).map(_._4)
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b }, g.toSeq.toString)
    }
  }

  test("trained classifier beats the majority baseline and is deterministic") {
    def run() = operators.TextQueries.qualityClassifier.run(spark, sf)
      .collect()(0)
    val r = run()
    val (n, tp, fp, tn, fn) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))
    assert(tp + fp + tn + fn == n, "confusion matrix partitions the corpus")
    assert(tp > 0 && tn > 0, "both classes predicted — not a constant model")
    val majority = math.max(tp + fn, tn + fp).toDouble / n
    assert(r.getDouble(5) > majority + 0.05,
      s"accuracy ${r.getDouble(5)} must beat majority $majority")
    assert(run().toSeq == r.toSeq, "training must be bit-deterministic")
  }

  test("zipf fit is negative-sloped and replays on a planted power law") {
    val r = operators.TextQueries.zipfFit.run(spark, sf).collect()(0)
    assert(r.getLong(0) >= 2 && r.getLong(0) <= 100)
    assert(r.getDouble(1) < 0.0, "rank-frequency slope must be negative")
    // planted perfect power law: token k repeated 64/2^k times ⇒ exact
    // slope −ln2/avg-spacing relation; assert the fitted slope is close
    // to the analytic −1.0 in the transformed basis (freq = C·rank^-1 is
    // approximated; here we just pin strong negativity and determinism)
    val tmp = writeDocs(Seq((1L,
      (1 to 6).flatMap(k => Seq.fill(1 << (7 - k))(s"t$k")).mkString(" "),
      "fx")))
    val p = operators.TextQueries.zipfFit.run(spark, tmp).collect()(0)
    assert(p.getLong(0) == 6 && p.getDouble(1) < -1.0,
      s"geometric corpus must fit steeply: ${p.toSeq}")
  }

  test("pr curve holds the class totals and trades recall monotonically") {
    val rows = operators.TextQueries.prCurve.run(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.length == 9)
    val pTotal = rows.head._2 + rows.head._4
    assert(rows.forall { case (_, tp, _, fn, _, _) => tp + fn == pTotal },
      "every threshold sees the same positive class")
    val recalls = rows.map(_._6)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a >= b },
      s"recall must fall as the threshold rises: ${recalls.toSeq}")
    assert(rows.exists(r => r._5 == 1.0 && r._6 > 0.5),
      "some threshold reaches full precision with useful recall")
  }

  test("source jsd flags the alien-vocabulary source") {
    // sources s1/s2 share a vocabulary; source "weird" writes entirely
    // different tokens — its divergence from the corpus must dominate
    val normal = (1 to 20).map(i => s"n$i").mkString(" ")
    val alien = (1 to 20).map(i => s"z$i").mkString(" ")
    val tmp = writeDocs(Seq(
      (1L, normal, "s1"), (2L, normal, "s1"),
      (3L, normal, "s2"), (4L, normal, "s2"),
      (5L, alien, "weird")))
    val rows = operators.TextQueries.sourceJsd.run(spark, tmp).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(rows.values.forall(v => v >= 0.0 && v <= math.log(2.0) + 1e-9))
    assert(rows("weird") > rows("s1") * 2 && rows("weird") > rows("s2") * 2,
      s"alien source must stand out: $rows")
  }

  test("auc is an exact rank statistic with near-perfect discrimination") {
    val r = operators.TextQueries.aucMetric.run(spark, sf).collect()(0)
    val (p, n, u2) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(p > 0 && n > 0)
    assert(u2 >= 0 && u2 <= 2 * p * n, "U statistic bounds")
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    // the model ranks the length class almost perfectly even though the
    // 0-threshold accuracy is ~82% — AUC is threshold-free
    assert(r.getDouble(3) > 0.9, s"auc: ${r.getDouble(3)}")
  }

  test("calibration curve partitions the corpus with sane bucket stats") {
    val rows = operators.TextQueries.calibration.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).toSeq == rows.map(_._1).toSeq.sorted)
    assert(rows.forall { case (b, n, mp, obs) =>
      b >= 0 && b <= 9 && n > 0 &&
        mp >= b / 10.0 - 1e-9 && mp <= (b + 1) / 10.0 + 1e-9 &&
        obs >= 0.0 && obs <= 1.0 })
    // the model discriminates: the top bucket's observed rate beats the
    // bottom bucket's
    assert(rows.last._4 > rows.head._4, s"discrimination: ${rows.toSeq}")
  }

  test("label-noise audit flags only confident disagreements, ranked") {
    val rows = operators.TextQueries.labelNoise.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getInt(3)))
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.forall { case (_, z, pred, y) =>
      pred != y && pred == (if (z >= 0) 1 else 0) })
    val confs = rows.map(r => math.abs(r._2))
    assert(confs.zip(confs.tail).forall { case (a, b) => a >= b },
      s"most-confident disagreements first: ${confs.toSeq}")
  }

  test("vocab growth curve is monotone and ends at the full vocabulary") {
    val rows = operators.TextQueries.heapsGrowth.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq(50L, 100L, 200L, 300L, 400L, 500L))
    val vs = rows.map(_._2)
    assert(vs.zip(vs.tail).forall { case (a, b) => a <= b }, "monotone")
    assert(vs.last == rows.head._3, "curve must end at vocab_total")
  }

  test("active learning picks the docs nearest the decision boundary") {
    val picked = operators.TextQueries.activeLearning.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(picked.length == 20)
    val zs = picked.map(p => math.abs(p._2))
    assert(zs.zip(zs.tail).forall { case (a, b) => a <= b },
      s"batch must be uncertainty-ordered: ${zs.toSeq}")
    // the picked margin ceiling must not exceed the corpus |z| at rank 20
    assert(zs.forall(_ <= zs.last))
  }

  test("ood detection quarantines only sub-threshold vectors") {
    val rows = operators.VectorQueries.oodDetection.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(rows.nonEmpty, "near-orthogonal corpus must have OOD vectors")
    assert(rows.forall { case (_, cid, cos) =>
      cid >= 0 && cid < 16 && cos < 0.25 })
    val again = operators.VectorQueries.oodDetection.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(rows.toSeq == again.toSeq, "quarantine list must be deterministic")
  }

  test("every set-similarity pair is containment-confirmed in both directions") {
    // J(A,B) ≥ τ implies C(A→B) ≥ τ and C(B→A) ≥ τ (the union term can
    // only shrink when divided by one side) — so the setjoin output must
    // be a subset of the containment output, both directions. This pins
    // the two prefix-filter implementations against each other on real
    // corpus data, not just their own oracles.
    val sj = operators.DedupQueries.setJoin.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cm = operators.DedupQueries.containment.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for ((a, b) <- sj) {
      assert(cm.contains((a, b)), s"missing containment $a→$b")
      assert(cm.contains((b, a)), s"missing containment $b→$a")
    }
  }

  test("modularity replays the hand-computed two-component partition") {
    // two shared-chunk pairs (1↔2, 3↔4) + isolate 5 → E = 4 directed
    // edges; each pair community: qc = 2/4 − (2/4)² = 0.25; Q = 0.5
    val a = (1 to 10).map(i => s"a$i").mkString(" ")
    val b = (1 to 10).map(i => s"b$i").mkString(" ")
    val tmp = writeDocs(Seq(
      (1L, a + " " + (1 to 10).map(i => s"x$i").mkString(" "), "fx"),
      (2L, a + " " + (1 to 10).map(i => s"y$i").mkString(" "), "fx"),
      (3L, b + " " + (1 to 10).map(i => s"z$i").mkString(" "), "fx"),
      (4L, b + " " + (1 to 10).map(i => s"w$i").mkString(" "), "fx"),
      (5L, (1 to 20).map(i => s"q$i").mkString(" "), "fx")))
    val rows = operators.GraphQueries.modularity.run(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(rows(1L) == ((2L, 2L, 2L, 0.25, 0.5)), s"pair 1: ${rows(1L)}")
    assert(rows(3L) == ((2L, 2L, 2L, 0.25, 0.5)), s"pair 3: ${rows(3L)}")
    assert(rows(5L) == ((1L, 0L, 0L, 0.0, 0.5)), s"isolate: ${rows(5L)}")
  }

  test("mrl rerank produces a full exact-cosine-ordered top-3 per query") {
    val rows = operators.VectorQueries.mrlRerank.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 30, s"10 queries × top-3: ${rows.length}")
    assert(rows.forall { case (q, rk, v, cos) =>
      rk >= 1 && rk <= 3 && v != q && math.abs(cos) <= 1.0 })
    rows.groupBy(_._1).values.foreach { g =>
      val cs = g.sortBy(_._2).map(_._4)
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b },
        s"rerank must order by exact cosine: ${g.toSeq}")
    }
  }

  test("pmi collocations rank the planted pair with the hand-computed score") {
    // 6 copies of "new york visit": both adjacent pairs have
    // PMI = ln((6/12) / ((6/18)·(6/18))) = ln(4.5); tie broken by w1
    val tmp = writeDocs((1L to 6L).map(i => (i, "new york visit", "fx")))
    val rows = operators.TextQueries.collocationsPmi.run(spark, tmp)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(5)))
    val want = math.rint(math.log(4.5) * 10000) / 10000
    assert(rows.toSeq == Seq(("new", "york", 6L, want),
      ("york", "visit", 6L, want)), s"got ${rows.toSeq}, want pmi=$want")
  }

  test("dataset card replays planted per-source stats") {
    val tmp = writeDocs(Seq(
      (1L, "x y", "s1"), (2L, "x y", "s1"), (3L, "a b c", "s2")))
    val rows = operators.TextQueries.datasetCard.run(spark, tmp).collect()
      .map(r => r.getString(0) -> r).toMap
    val s1 = rows("s1")
    assert(s1.getLong(1) == 2L && s1.getLong(4) == 4L,
      s"s1 docs/tokens: $s1")
    assert(s1.getLong(8) == 2L && s1.getDouble(9) == 1.0,
      "identical pair is fully dup-exposed")
    val s2 = rows("s2")
    assert(s2.getLong(1) == 1L && s2.getLong(4) == 3L &&
      s2.getLong(8) == 0L && s2.getDouble(9) == 0.0, s"s2: $s2")
  }

  test("tokenizer coverage reports sane fertility per language") {
    val rows = operators.BpeQueries.tokenizerCoverage.run(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (words, tokens, merged) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(tokens >= words, s"${r.getString(0)}: every word is ≥1 token")
      assert(merged <= tokens, s"${r.getString(0)}: merged subset of tokens")
      assert(r.getDouble(5) == tokens.toDouble / words.toDouble)
      assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0)
    }
  }
}

/** Child main for the scratch-root exit test: creates its index
  * directory for the corpus `args(0)`, writes a file in it, prints its
  * scratch root and exits normally. */
object AnnScratchChild {
  def main(args: Array[String]): Unit = {
    val d = java.nio.file.Paths.get(operators.AnnIndex.indexDir(args(0)))
    java.nio.file.Files.createDirectories(d)
    java.nio.file.Files.writeString(d.resolve("probe"), "x\n")
    println(s"ROOT=${operators.AnnIndex.scratchRootPath}")
  }
}
