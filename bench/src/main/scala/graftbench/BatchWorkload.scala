package graftbench

import org.apache.spark.sql.functions._
import graft.{Doc, Pipeline}
import graft.operators.{ConnectedComponents, FusedDetectors, Restore}

/** `dupmix` and `hubskew`: the committed batch pipeline, timed at its
  * public entry point [[Pipeline.run]], one fresh TableStore per pass.
  *
  * Traced runs replace the timed passes with one pass under the
  * [[Tracer]]. Its Spark jobs are attributed to pipeline stages by the
  * stores' own commit record: a job belongs to the first stage whose
  * manifest `committed_at_ms` is at or after the job's end. */
object BatchWorkload {

  /** Pipeline stage → the module that does its work. */
  val StageLayer: Seq[(String, String)] = Seq(
    "docs" -> "DocAssembly", "exact" -> "ExactDedup", "pairs" -> "FusedDetectors",
    "clusters" -> "Clustering", "lineage" -> "Pipeline.lineage", "restore" -> "Restore")

  def apply(run: Run): Outcome = {
    val spark = run.spark
    import spark.implicits._

    // set-up: the corpus to parquet, several times; setup_s is the median
    val inputDir = run.path("input")
    val setups = (1 to Run.SetupReps).map { _ =>
      run.seconds(Corpora.transcripts(spark, run.workload, run.convs, run.seed)
        .write.mode("overwrite").parquet(inputDir))._1
    }
    val input = spark.read.parquet(inputDir)
    val nTurns = input.count()
    val (inputBytes, _) = run.parquetFiles(inputDir)
    run.log(s"input: ${run.convs} conversations, $nTurns turns, $inputBytes parquet bytes")

    def pass(name: String): (Pipeline.Result, String) = {
      val store = run.path(name)
      run.deleteTree(store)
      (Pipeline.run(spark, input, store, run.cfg), store)
    }
    // warm-up: one untimed pass over the same corpus, so the timed pass
    // reuses its JIT-compiled code and generated-code cache
    val (warmS, (_, warmStore)) = run.seconds(pass("warm"))
    run.log(f"warm-up pass: $warmS%.3f s")
    run.deleteTree(warmStore)

    var layers = Map.empty[String, Double]
    var detail = Map.empty[String, String]
    val (walls, last, attempted, failed) =
      if (!run.args.trace) run.timedPasses(Run.MinTimedPasses)(k => pass(s"pass_$k"))
      else {
        val tracer = new Tracer
        val t0 = System.currentTimeMillis()
        val (wall, r) = run.seconds(run.traced(tracer)(pass("traced")))
        val (l, d) = traceLayers(run, tracer, r._1, r._2, t0, wall)
        layers = l
        detail = d
        (Seq(wall), Some(r), 1, 0)
      }
    val (res, store) = last.getOrElse(throw new IllegalStateException("no pass succeeded"))
    (1 to attempted).map(k => run.path(s"pass_$k")).filter(_ != store).foreach(run.deleteTree)
    val storedRatio = run.parquetFiles(store)._1.toDouble / inputBytes
    val stageWalls = res.metrics.select($"stage", $"wall_ms", $"rows_out").as[(String, Long, Long)]
      .collect().map { case (s, w, n) => s"""{"stage":"$s","wall_ms":$w,"rows_out":$n}""" }

    run.log("checks")
    // checks, outside the timed passes
    val restored =
      if (run.args.plant.contains("drop_restored_row"))
        res.restored.filter(!($"conv_id" === graft.corpus.CorpusGen.convId(1L) && $"turn_idx" === 0))
      else res.restored
    val mismatches = Restore.mismatchCount(spark, input, restored)
    val (q, qChecks) = run.qualityChecks(run.plantLabels(res.clusters.select($"conv_id", $"cluster_id")))
    val checks = Check("restore_mismatches", mismatches == 0, s"mismatches=$mismatches") +: qChecks
    run.deleteTree(store)

    val wall = Run.median(walls)
    Outcome(
      e2e = Map(
        "turns_per_s" -> nTurns / wall,
        "wall_s" -> wall,
        "setup_s" -> Run.median(setups),
        "pair_recall" -> q.pairRecall,
        "cluster_recall" -> q.clusterRecall,
        "cluster_precision" -> q.clusterPrecision,
        "stored_bytes_per_input_byte" -> storedRatio),
      layers = layers,
      checks = checks,
      passesAttempted = attempted,
      passesFailed = failed,
      detail = detail ++ Map(
        "workload" -> s""""${run.workload}"""",
        "convs" -> run.convs.toString,
        "turns" -> nTurns.toString,
        "input_bytes" -> inputBytes.toString,
        "setup_s_each" -> setups.mkString("[", ",", "]"),
        "warmup_s" -> warmS.toString,
        "pass_wall_s" -> walls.mkString("[", ",", "]"),
        "last_pass_stages" -> stageWalls.mkString("[", ",", "]")))
  }

  /** Per-layer numbers of the traced pass, plus the two kernels timed
    * alone afterwards: the fused signature kernel and connected
    * components over the pass's committed whole-document pairs. */
  private def traceLayers(run: Run, tracer: Tracer, res: Pipeline.Result, store: String,
      t0: Long, passWall: Double): (Map[String, Double], Map[String, String]) = {
    val spark = run.spark
    import spark.implicits._
    val rows = res.metrics.select($"stage", $"rows_out").as[(String, Long)].collect().toMap
    val commits = run.commits(store)
    val ends = commits.map(_._2)
    val windows = commits.zip(t0 +: ends).map { case ((stage, to), from) => (stage, from, to) }
    val layerOf = StageLayer.toMap
    val perStage = windows.flatMap { case (stage, from, to) =>
      layerOf.get(stage).map { l =>
        val st = tracer.stagesOf(tracer.jobsEndingIn(from, to))
        l -> (st, Tracer.layerStats(st, (to - from) / 1000.0, rows.getOrElse(stage, 0L), run.cores))
      }
    }.toMap
    val accounted = windows.map { case (_, f, t) => t - f }.sum / 1000.0
    run.log(f"traced pass: $passWall%.3f s, stage windows cover $accounted%.3f s")

    // TableStore: every stage of the pass that wrote files
    val passStages = tracer.stagesOf(tracer.jobs)
    val writes = passStages.filter(_.outBytes > 0)
    val storeFiles = run.parquetFiles(store)._2
    val tableStore = Tracer.layerStats(writes,
      writes.map(s => math.max(0L, s.doneMs - s.submitMs)).sum / 1000.0,
      writes.map(_.outRecords).sum, run.cores)

    val fusedShuffled = perStage.get("FusedDetectors").map(_._1.map(_.shuffleWriteRecords).sum).getOrElse(0L)
    val pairs = rows.getOrElse("pairs", 0L)
    val overhead = tracer.busyNanos / 1e9 / passWall

    val docs = res.docs.as[Doc]
    val (sigS, _) = run.seconds(FusedDetectors.signatures3(spark, docs, run.cfg)
      .write.format("noop").mode("overwrite").save())
    val edges = res.dupPairs.filter($"detector" =!= "substring").select($"doc_a", $"doc_b")
    val (ccS, _) = run.seconds(ConnectedComponents.run(spark, edges, run.cfg.ccMaxIters,
      run.cfg.ccCheckpointEvery, run.cfg.ccBatchIters).count())

    val stats = perStage.toSeq.flatMap { case (l, (_, m)) => m.map { case (k, v) => s"$l.$k" -> v } } ++
      tableStore.map { case (k, v) => s"TableStore.$k" -> v }
    val windowJson = windows.map { case (st, f, t) => s"\"$st\":${(t - f) / 1000.0}" }
      .mkString("{", ",", "}")
    (stats.toMap ++ Map(
      "FusedDetectors.sig_s" -> sigS,
      "Clustering.cc_s" -> ccS,
      "FusedDetectors.pairs_per_shuffled_row" -> (if (fusedShuffled == 0) 0.0 else pairs.toDouble / fusedShuffled),
      "TableStore.write_mb" -> writes.map(_.outBytes).sum / (1024.0 * 1024.0),
      "TableStore.files" -> storeFiles.toDouble,
      "trace.overhead_frac" -> overhead),
      Map("trace_pass_wall_s" -> passWall.toString, "trace_stage_windows_s" -> windowJson,
        "trace_windows_cover_frac" -> (accounted / passWall).toString,
        "trace_unattributed_jobs" -> tracer.jobs.count(_.endMs > ends.last).toString))
  }
}
