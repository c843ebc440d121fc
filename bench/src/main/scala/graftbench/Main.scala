package graftbench

import java.nio.file.{Files, Path, Paths}
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.{Bench, DedupConfig}

/** One benchmark run: set-up, untimed warm-up, timed passes (or one
  * traced pass), correctness checks; writes the result as JSON to
  * `--out`.
  *
  *   graftbench.Main --workload <dupmix|hubskew|increment> --seed <n>
  *     --seconds <s> --trace <0|1> --work <dir> --out <file>
  *     [--convs <n>] [--plant <drop_restored_row|swap_label>]
  *
  * `--plant` injects a known fault into the outputs before the checks
  * (the self-test proves the checks catch it). */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, out: String, convs: Option[Long], plant: Option[String])

  /** Conversations per workload at full size (~10 turns each; hubskew
    * interleaves one hot turn per turn, so ~20). */
  val DefaultConvs: Map[String, Long] = Map("dupmix" -> 3000L, "hubskew" -> 1500L, "increment" -> 3000L)

  val EndToEnd: Seq[(String, String)] = Seq(
    "turns_per_s" -> "1/s", "wall_s" -> "s", "setup_s" -> "s",
    "pair_recall" -> "ratio", "cluster_recall" -> "ratio", "cluster_precision" -> "ratio",
    "stored_bytes_per_input_byte" -> "ratio", "ok_frac" -> "ratio")

  val BatchLayers: Seq[String] = Seq("DocAssembly", "ExactDedup", "FusedDetectors",
    "Clustering", "Pipeline.lineage", "Restore", "TableStore")
  val IncrementLayers: Seq[String] = Seq("IncrementalNearDup.signatureTable",
    "IncrementalNearDup.newTouchingPairs", "IncrementalNearDup.updateLabels")
  val Extras: Seq[(String, String)] = Seq(
    "FusedDetectors.sig_s" -> "s", "Clustering.cc_s" -> "s",
    "FusedDetectors.pairs_per_shuffled_row" -> "ratio",
    "TableStore.write_mb" -> "MB", "TableStore.files" -> "count",
    "host.page_fault_mbps" -> "MB/s", "host.steal_frac" -> "ratio",
    "host.peak_heap_mb" -> "MB", "trace.overhead_frac" -> "ratio")

  def perLayer: Seq[(String, String)] =
    (BatchLayers ++ IncrementLayers).flatMap(l => Tracer.LayerStats.map { case (m, u) => s"$l.$m" -> u }) ++ Extras

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(DefaultConvs.contains(w), s"unknown workload $w")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), need("out"), kv.get("convs").map(_.toLong), kv.get("plant"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val pfBefore = Bench.pageFaultProbeMbps(a.work)
    val cpu0 = Host.cpuJiffies()
    Host.resetPeakHeap()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Bench.buildSession(cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, a, cores, a.convs.getOrElse(DefaultConvs(a.workload)))
    run.log(f"session ready ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s after JVM start")
    val o = if (a.workload == "increment") IncrementWorkload(run) else BatchWorkload(run)
    val pfAfter = Bench.pageFaultProbeMbps(a.work)
    val host = Map(
      "host.page_fault_mbps" -> math.min(pfBefore, pfAfter),
      "host.steal_frac" -> Host.stealFrac(cpu0, Host.cpuJiffies()),
      "host.peak_heap_mb" -> Host.peakHeapMb())
    spark.stop()
    val probes = Map("page_fault_mbps_before" -> pfBefore.toString, "page_fault_mbps_after" -> pfAfter.toString)
    Files.write(Paths.get(a.out),
      Report.json(a, o.copy(detail = o.detail ++ probes), host).getBytes("UTF-8"))
  }
}

/** What a workload hands back: end-to-end values, per-layer values (traced
  * runs), the checks it ran, its pass counts and free-form detail. */
final case class Outcome(
    e2e: Map[String, Double],
    layers: Map[String, Double],
    checks: Seq[Check],
    passesAttempted: Int,
    passesFailed: Int,
    detail: Map[String, String])

final case class Check(name: String, ok: Boolean, detail: String)

/** Shared state and helpers of one run. */
final class Run(val spark: SparkSession, val args: Main.Args, val cores: Int, val convs: Long) {
  val cfg: DedupConfig = DedupConfig.default
  def workload: String = args.workload
  def seed: Long = args.seed

  def path(name: String): String = Paths.get(args.work, name).toString

  private val started = System.nanoTime()

  def log(msg: String): Unit =
    System.err.println(f"[bench] +${(System.nanoTime() - started) / 1e9}%.1fs $msg")

  def seconds[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Runs `body` with its Spark jobs tagged as `layer`; returns its wall. */
  def layer[T](name: String)(body: => T): (Double, T) = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.LayerKey, name)
    try seconds(body) finally sc.setLocalProperty(Tracer.LayerKey, null)
  }

  /** Timed passes: at least `minPasses` that succeed, then more while
    * the next one is expected to end within `--seconds`. Failed passes
    * are counted and logged, and the loop gives up after three. */
  def timedPasses[T](minPasses: Int)(pass: Int => T): (Seq[Double], Option[T], Int, Int) = {
    val t0 = System.nanoTime()
    var walls = Vector.empty[Double]
    var last: Option[T] = None
    var attempted, failed = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    def more = walls.size < minPasses || elapsed + walls.last <= args.seconds
    while (failed < 3 && more) {
      attempted += 1
      try {
        val (w, r) = seconds(pass(attempted))
        walls :+= w
        last = Some(r)
        log(f"pass $attempted: $w%.3f s")
      } catch {
        case e: Exception =>
          failed += 1
          log(s"pass $attempted failed: $e")
      }
    }
    (walls, last, attempted, failed)
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
      finally s.close()
    }
  }

  /** (bytes, files) of the parquet data files under `dir`. */
  def parquetFiles(dir: String): (Long, Long) = {
    val s = Files.walk(Paths.get(dir))
    try {
      val fs = s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet") && !p.toString.contains("_checkpoints"))
        .toSeq
      (fs.map(Files.size).sum, fs.size.toLong)
    } finally s.close()
  }

  /** committed_at_ms of each stage committed under a TableStore root. */
  def commits(storeRoot: String): Seq[(String, Long)] = {
    val at = "\"committed_at_ms\":(\\d+)".r
    val s = Files.list(Paths.get(storeRoot))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("_manifest.") && n.endsWith(".json"))
      .map { n =>
        val body = new String(Files.readAllBytes(Paths.get(storeRoot, n)), "UTF-8")
        n.stripPrefix("_manifest.").stripSuffix(".json") -> at.findFirstMatchIn(body).get.group(1).toLong
      }.toSeq.sortBy(_._2)
    finally s.close()
  }

  /** Attach a fresh tracer around `body`, wait for its events, detach. */
  def traced[T](tracer: Tracer)(body: => T): T = {
    val sc = spark.sparkContext
    tracer.clear()
    sc.addSparkListener(tracer)
    try body
    finally {
      org.apache.spark.BenchBridge.drainListeners(sc)
      sc.removeSparkListener(tracer)
    }
  }

  /** Checks shared by every workload: label completeness, recall and
    * precision against the generator's truth. */
  def qualityChecks(labels: org.apache.spark.sql.DataFrame): (Quality.Scores, Seq[Check]) = {
    val q = Quality.score(labels, Corpora.truthClusters(spark, workload, convs),
      Corpora.truthPairs(spark, workload, convs))
    val min = Run.MinQuality
    (q, Seq(
      Check("labels_complete", q.complete,
        s"rows=${q.labelRows} convs=${q.labelledConvs} expected=${q.expected}"),
      Check("pair_recall", q.pairRecall >= min, f"${q.pairRecall}%.5f >= $min"),
      Check("cluster_recall", q.clusterRecall >= min, f"${q.clusterRecall}%.5f >= $min"),
      Check("cluster_precision", q.clusterPrecision >= min, f"${q.clusterPrecision}%.5f >= $min")))
  }

  /** The self-test's planted label fault: the first mega-cluster member
    * and a unique conversation swap cluster labels. */
  def plantLabels(labels: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    if (!args.plant.contains("swap_label")) labels
    else {
      val (a, b) = (graft.corpus.CorpusGen.convId(90L), graft.corpus.CorpusGen.convId(92L))
      val la = labels.filter(col("conv_id") === a).select("cluster_id").head().getString(0)
      val lb = labels.filter(col("conv_id") === b).select("cluster_id").head().getString(0)
      labels.withColumn("cluster_id",
        when(col("conv_id") === a, lit(lb)).when(col("conv_id") === b, lit(la))
          .otherwise(col("cluster_id")))
    }
  }
}

object Run {
  /** Recall and precision floor of the quality checks. */
  val MinQuality = 0.99
  /** Corpus generations per run; setup_s takes their median. */
  val SetupReps = 5
  val MinTimedPasses = 1

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** The result file: the four keys the benchmark prints, plus the run's
  * detail for artifacts. */
object Report {
  private def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"non-finite metric value $x")
    x.toString
  }
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def json(a: Main.Args, o: Outcome, host: Map[String, Double]): String = {
    val attempted = o.passesAttempted + o.checks.size
    val failed = o.passesFailed + o.checks.count(!_.ok)
    val e2e = o.e2e + ("ok_frac" -> (1.0 - failed.toDouble / attempted))
    val layers = o.layers ++ host
    val (names, values) =
      if (a.trace) (Main.perLayer, layers) else (Main.EndToEnd, e2e)
    // a layer the workload does not run reads 0; an end-to-end value
    // is always measured
    require(a.trace || names.forall(n => values.contains(n._1)), "missing end-to-end metric")
    val metrics = names.map { case (n, u) =>
      s"${str(n)}:{\"value\":${num(values.getOrElse(n, 0.0))},\"unit\":${str(u)}}"
    }.mkString("{", ",", "}")
    val checks = o.checks.map(c =>
      s"{\"name\":${str(c.name)},\"ok\":${c.ok},\"detail\":${str(c.detail)}}").mkString("[", ",", "]")
    val detail = (o.detail ++ host.map { case (k, v) => k -> num(v) })
      .toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    val correct = failed == 0
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$metrics,""" +
      s""""checks":$checks,"detail":$detail}""" + "\n"
  }
}
