package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Doc, DupPair}
import graft.operators.{Clustering, ConnectedComponents, DocAssembly, ExactDedup, FusedDetectors, IncrementalNearDup}
import graft.sources.TableStore

/** `increment`: ingest of a new batch against a stored corpus, the
  * engine's RunIncrement workflow timed at its public calls.
  *
  * Set-up builds the base store from 90% of a dupmix corpus through the
  * batch path (signature table + cluster labels) and writes the other
  * 10% as the new batch's documents. Each timed rep ingests that batch:
  * [[IncrementalNearDup.signatureTable]] → `newTouchingPairs` →
  * `updateLabels` → TableStore commits of the deltas into a per-rep
  * directory, discarded afterwards. No old text is read. The base-store
  * build is the warm-up: it runs the signature kernel, the detectors'
  * sweep and verification and connected components first. */
object IncrementWorkload {

  val NewPct = 10

  def apply(run: Run): Outcome = {
    val spark = run.spark
    import spark.implicits._
    val cfg = run.cfg

    def fullPairs(d: org.apache.spark.sql.Dataset[Doc]) =
      ExactDedup.docDupPairs(spark, d.toDF).as[DupPair].unionByName(FusedDetectors.dupPairs(spark, d, cfg))

    // set-up: corpus (several times, median) + split + base store (once)
    val inputDir = run.path("input")
    val gens = (1 to Run.SetupReps).map { _ =>
      run.seconds(Corpora.transcripts(spark, run.workload, run.convs, run.seed)
        .write.mode("overwrite").parquet(inputDir))._1
    }
    val newTurnsDir = run.path("new_turns")
    val newDocsDir = run.path("new_docs")
    val base = new TableStore(run.path("base"))
    val (buildS, _) = run.seconds {
      val input = spark.read.parquet(inputDir)
      // the new batch: the NewPct% of conversations with the largest
      // hash, a pure function of the data (RunIncrement's split)
      val isNew = pmod(hash($"conv_id"), lit(100)) >= lit(100 - NewPct)
      input.filter(isNew).write.mode("overwrite").parquet(newTurnsDir)
      DocAssembly.assemble(spark, spark.read.parquet(newTurnsDir)).write.mode("overwrite").parquet(newDocsDir)
      val oldDocs = DocAssembly.assemble(spark, input.filter(!isNew)).cache()
      base.stage(spark, "sigs", Seq("signatures")) {
        Map("signatures" -> IncrementalNearDup.signatureTable(spark, oldDocs, cfg))
      }
      val prev = Clustering.assign(spark, oldDocs, fullPairs(oldDocs), cfg).toDF.cache()
      prev.count()
      base.stage(spark, "labels", Seq("labels"))(Map("labels" -> prev))
      prev.unpersist()
      oldDocs.unpersist()
    }
    val newTurns = spark.read.parquet(newTurnsDir).count()
    val (newBytes, _) = run.parquetFiles(newTurnsDir)
    run.log(f"set-up: corpus ${Run.median(gens)}%.3f s (median of ${gens.size}), base store $buildS%.3f s; " +
      s"new batch $newTurns turns, $newBytes parquet bytes")

    val stored = base.read(spark, "sigs", "signatures")
    val prevLabels = base.read(spark, "labels", "labels")
    val newDocs = spark.read.parquet(newDocsDir).as[Doc]

    /** One ingest into a fresh store: per-layer (wall, rows), the
      * store directory, and the batch's new pairs (valid until the next
      * ingest). */
    def ingest(name: String): (Map[String, (Double, Long)], String, DataFrame) = {
      val dir = run.path(name)
      run.deleteTree(dir)
      val store = new TableStore(dir)
      val (sigS, (fresh, nFresh)) = run.layer("IncrementalNearDup.signatureTable") {
        val f = IncrementalNearDup.signatureTable(spark, newDocs, cfg).cache()
        (f, f.count())
      }
      val (pairS, (pairs, nPairs)) = run.layer("IncrementalNearDup.newTouchingPairs") {
        val p = IncrementalNearDup.newTouchingPairs(spark, stored, fresh, cfg)
        (p, p.count())
      }
      val tsMin = stored.select($"conv_id", $"ts_min").unionByName(fresh.select($"conv_id", $"ts_min"))
      val (labS, (updated, nUpdated)) = run.layer("IncrementalNearDup.updateLabels") {
        val u = IncrementalNearDup.updateLabels(spark, prevLabels, pairs, tsMin, cfg).toDF.cache()
        (u, u.count())
      }
      val (storeS, _) = run.layer("TableStore") {
        store.stage(spark, "sigs_delta", Seq("signatures"))(Map("signatures" -> fresh))
        store.stage(spark, "labels2", Seq("labels"))(Map("labels" -> updated))
      }
      fresh.unpersist()
      updated.unpersist()
      (Map(
        "IncrementalNearDup.signatureTable" -> (sigS, nFresh),
        "IncrementalNearDup.newTouchingPairs" -> (pairS, nPairs),
        "IncrementalNearDup.updateLabels" -> (labS, nUpdated),
        "TableStore" -> (storeS, nFresh + nUpdated)), dir, pairs.toDF)
    }

    var layers = Map.empty[String, Double]
    var detail = Map.empty[String, String]
    val (walls, last, attempted, failed) =
      if (!run.args.trace) run.timedPasses(Run.MinTimedPasses)(k => ingest(s"rep_$k"))
      else {
        val tracer = new Tracer
        val (wall, r) = run.seconds(run.traced(tracer)(ingest("traced")))
        val stats = r._1.toSeq.flatMap { case (l, (w, n)) =>
          val st = tracer.stagesOf(tracer.jobsTagged(l))
          Tracer.layerStats(st, w, n, run.cores).map { case (k, v) => s"$l.$k" -> v }
        }.toMap
        val sweep = tracer.stagesOf(tracer.jobsTagged("IncrementalNearDup.newTouchingPairs"))
          .map(_.shuffleWriteRecords).sum
        val writes = tracer.stagesOf(tracer.jobsTagged("TableStore")).map(_.outBytes).sum
        // the kernels alone: the signature kernel over the new batch,
        // CC over the subgraph updateLabels re-solves
        val (sigS, _) = run.seconds(FusedDetectors.signatures3(spark, newDocs, cfg)
          .write.format("noop").mode("overwrite").save())
        val ccS = touchedCc(run, prevLabels, r._3)
        layers = stats ++ Map(
          "FusedDetectors.sig_s" -> sigS,
          "Clustering.cc_s" -> ccS,
          "FusedDetectors.pairs_per_shuffled_row" ->
            (if (sweep == 0) 0.0 else r._1("IncrementalNearDup.newTouchingPairs")._2.toDouble / sweep),
          "TableStore.write_mb" -> writes / (1024.0 * 1024.0),
          "TableStore.files" -> run.parquetFiles(r._2)._2.toDouble,
          "trace.overhead_frac" -> tracer.busyNanos / 1e9 / wall)
        val covered = r._1.values.map(_._1).sum
        detail = Map("trace_pass_wall_s" -> wall.toString,
          "trace_layers_cover_frac" -> (covered / wall).toString,
          "trace_untagged_jobs" -> tracer.jobs.count(_.layer.isEmpty).toString)
        (Seq(wall), Some(r), 1, 0)
      }
    val (_, lastDir, _) = last.getOrElse(throw new IllegalStateException("no ingest succeeded"))
    (1 to attempted).map(k => run.path(s"rep_$k")).filter(_ != lastDir).foreach(run.deleteTree)
    val storedRatio = run.parquetFiles(lastDir)._1.toDouble / newBytes

    run.log("checks")
    // checks, outside the timed reps: the last rep's committed labels vs
    // a full recompute over the whole corpus, and vs the truth
    val updated = run.plantLabels(new TableStore(lastDir).read(spark, "labels2", "labels"))
    val allDocs = DocAssembly.assemble(spark, spark.read.parquet(inputDir)).cache()
    val full = Clustering.assign(spark, allDocs, fullPairs(allDocs), cfg).toDF.cache()
    full.count()
    val (equal, eqDetail) = Quality.incrementEquivalent(spark, updated, full)
    full.unpersist()
    allDocs.unpersist()
    val (q, qChecks) = run.qualityChecks(updated.select($"conv_id", $"cluster_id"))
    val checks = Check("increment_equivalence", equal, eqDetail) +: qChecks
    run.deleteTree(lastDir)

    val wall = Run.median(walls)
    Outcome(
      e2e = Map(
        "turns_per_s" -> newTurns / wall,
        "wall_s" -> wall,
        "setup_s" -> (Run.median(gens) + buildS),
        "pair_recall" -> q.pairRecall,
        "cluster_recall" -> q.clusterRecall,
        "cluster_precision" -> q.clusterPrecision,
        "stored_bytes_per_input_byte" -> storedRatio),
      layers = layers,
      checks = checks,
      passesAttempted = attempted,
      passesFailed = failed,
      detail = detail ++ Map(
        "workload" -> "\"increment\"",
        "convs" -> run.convs.toString,
        "new_turns" -> newTurns.toString,
        "new_input_bytes" -> newBytes.toString,
        "setup_corpus_s_each" -> gens.mkString("[", ",", "]"),
        "setup_base_store_s" -> buildS.toString,
        "ingest_wall_s" -> walls.mkString("[", ",", "]")))
  }

  /** Connected components over the subgraph `updateLabels` re-solves:
    * the new pairs plus the spanning stars of the prior clusters they
    * touch. */
  private def touchedCc(run: Run, prevLabels: DataFrame, pairs: DataFrame): Double = {
    val spark = run.spark
    import spark.implicits._
    val touchedDocs = pairs.select($"doc_a".as("conv_id")).unionAll(pairs.select($"doc_b".as("conv_id")))
    val touched = prevLabels.join(
      prevLabels.join(touchedDocs, Seq("conv_id"), "left_semi").select($"cluster_id").distinct(),
      Seq("cluster_id"), "left_semi")
    val stars = touched.filter($"conv_id" =!= $"cluster_id")
      .select($"conv_id".as("doc_a"), $"cluster_id".as("doc_b"))
    val edges = pairs.select($"doc_a", $"doc_b").unionAll(stars)
    run.seconds(ConnectedComponents.run(spark, edges, run.cfg.ccMaxIters,
      run.cfg.ccCheckpointEvery, run.cfg.ccBatchIters).count())._1
  }
}
