package perfbench

import java.io.{File, FileInputStream, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.functions.GraftFunctions

/** Key/value inputs written by the generator (`manifest.properties`). */
final class Manifest(path: String) {
  private val p = new java.util.Properties()
  locally { val in = new FileInputStream(path); try p.load(in) finally in.close() }
  def apply(k: String): String =
    Option(p.getProperty(k)).getOrElse(sys.error(s"manifest lacks $k"))
  def list(k: String): Seq[String] = apply(k).split(",").toSeq.filter(_.nonEmpty)
  def work: String = apply("work")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Benchmark process: sets up Spark, runs one workload's closed loop for a
  * fixed time, checks the outputs and writes its figures as JSON.
  *
  * {{{
  *   Main --workload <name> --manifest <file> --seconds <n> --trace <0|1> --result <file>
  *        [--setup-only 1]
  * }}}
  * With `--setup-only` it sets up, writes `{"setup_s": ...}` and exits.
  */
object Main {
  private final case class Done(name: String, step: Int, wall: Double, gc: Double, out: OpOut)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val m = new Manifest(a("manifest"))
    val traced = a("trace") == "1"
    // a traced run splits its time between an untraced and a traced loop
    val seconds = a("seconds").toDouble / (if (traced) 2 else 1)
    val cores = math.min(Runtime.getRuntime.availableProcessors, 4)
    // set-up, cold: from JVM start until the session is up, functions are
    // registered and a small fixed job has run through codegen, exchange,
    // window, join and generate
    val s = session(cores, m.work)
    GraftFunctions.register(s)
    warmJob(s)
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    Console.err.println(f"[perfbench] setup $setupS%.3f s")
    if (a.contains("setup-only")) {
      s.stop()
      write(a("result"), s"""{"setup_s": $setupS}""")
      return
    }
    val wl: Workload = a("workload") match {
      case "daily_dag" => new DailyDag(m)
      case "curation" => new Curation(m)
    }

    val stepErrs = Seq.newBuilder[String]
    def endStep(k: Int): Unit =
      try wl.endStep(s, k) catch { case e: Throwable => stepErrs += s"step $k: $e" }

    // priming, untimed: step 0, whose outputs the checks also use
    val primeOps = wl.startStep(0)
    val primeErr =
      try {
        primeOps.foreach(name => wl.op(s, name, 0, Tracer.Off))
        endStep(0)
        None
      } catch { case e: Throwable => Some(s"priming failed: $e") }

    // the heap a step leaves behind, read after a full collection: what
    // the program keeps, not how far the young generation filled
    val liveHeap = Seq.newBuilder[Long]
    def loop(tr: Tracer, probe: Option[SparkProbe], base: Int)
        : (Seq[Done], Int, Seq[Map[String, Double]]) = {
      val done = Seq.newBuilder[Done]
      val layers = Seq.newBuilder[Map[String, Double]]
      var failed = 0
      var k = 0
      // the loop's length counts the operations only, not the untimed work
      // between steps
      var busy = 0.0
      while (k == 0 || busy < seconds) {
        val failed0 = failed
        wl.startStep(base + k).foreach { name =>
          probe.foreach(_.reset())
          val w0 = System.currentTimeMillis()
          val n0 = System.nanoTime()
          val gc0 = gcSeconds
          try {
            val out = wl.op(s, name, base + k, tr)
            val wall = (System.nanoTime() - n0) / 1e9
            busy += wall
            done += Done(name, base + k, wall, gcSeconds - gc0, out)
            tr match {
              case on: Tracer.On =>
                layers += on.take() ++ probe.map(_.read(w0, System.currentTimeMillis()))
                  .getOrElse(Map.empty)
              case _ =>
            }
          } catch {
            case e: Throwable =>
              busy += (System.nanoTime() - n0) / 1e9
              failed += 1
              tr match { case on: Tracer.On => on.take(); case _ => }
              Console.err.println(s"[perfbench] $name step ${base + k} failed: $e")
          }
        }
        if (failed == failed0) endStep(base + k)
        System.gc()
        liveHeap += heapPools.map(_.getUsage.getUsed).sum
        k += 1
      }
      (done.result(), failed, layers.result())
    }

    val (done, failed, _) = loop(Tracer.Off, None, 1)
    val heapMb = liveHeap.result().map(_ / 1048576.0)
    val peakHeapMb = heapMb.max

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val attempted = done.size + failed
    // per-name medians; a step's figure is the sum over its operations
    val perName = done.groupBy(_.name).map { case (n, ds) => n -> Stats.median(ds.map(_.wall)) }
    val opP50 = perName.values.sum
    if (!traced) {
      metrics("setup_s") = (setupS, "s")
      metrics("op_s_p50") = (opP50, "s")
      val bySteps = done.groupBy(_.step).values
      metrics("rows_per_s") = (Stats.median(bySteps.map(ds =>
        ds.map(_.out.rows).sum / ds.map(_.wall).sum).toSeq), "1/s")
      metrics("out_bytes_per_row") =
        (done.map(_.out.bytes).sum.toDouble / done.map(_.out.rows).sum, "bytes")
      metrics("peak_heap_mb") = (peakHeapMb, "MB")
      metrics("ops_ok_ratio") = (done.size.toDouble / math.max(1, attempted), "ratio")
    }
    Console.err.println(f"[perfbench] ${a("workload")}: ${done.size} ops ok, $failed failed, " +
      f"op_s_p50 $opP50%.4f s over ${done.map(_.step).distinct.size} steps; " +
      perName.toSeq.sortBy(_._1).map { case (n, t) => f"$n=$t%.3f" }.mkString(" ") +
      "; walls (gc) " + done.map(d => f"${d.wall}%.2f (${d.gc}%.2f)").mkString(" ") +
      "; live heap MB " + heapMb.map(h => f"$h%.1f").mkString(" "))

    var attemptedAll = attempted
    var failedAll = failed
    if (traced) {
      val probe = new SparkProbe(s, cores)
      val tr = new Tracer.On
      val (tDone, tFailed, layers) = loop(tr, Some(probe), done.map(_.step).max + 1)
      attemptedAll += tDone.size + tFailed
      failedAll += tFailed
      probe.close()
      val bd = new Tracer.On
      wl.breakdown(s, bd)
      val fixed = bd.take()
      val tracedP50 = tDone.groupBy(_.name).map { case (_, ds) =>
        Stats.median(ds.map(_.wall)) }.sum
      // a layer the workload never calls reads 0
      PerLayer.names.foreach { k =>
        val xs = layers.flatMap(_.get(k))
        val v = fixed.getOrElse(k, if (xs.isEmpty) 0.0 else Stats.median(xs))
        metrics(k) = (v, PerLayer.unit(k))
      }
      metrics("trace.op_s_untraced") = (opP50, "s")
      metrics("trace.op_s_traced") = (tracedP50, "s")
      metrics("trace.overhead_ratio") = (tracedP50 / opP50 - 1, "ratio")
    }

    val checked = primeOps.map(n => (n, 0)) ++ done.map(d => (d.name, d.step))
    val errs =
      if (primeErr.nonEmpty) primeErr.toSeq
      else if (done.isEmpty) Seq("no operation succeeded")
      else stepErrs.result() ++
        (try wl.check(s, checked) catch { case e: Throwable => Seq(s"check failed: $e") })
    errs.foreach(e => Console.err.println(s"[perfbench] CHECK FAILED: $e"))
    s.stop()

    def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    val steps = (0 +: done.map(_.step)).distinct.sorted.mkString(",")
    val json = s"""{"correct": ${errs.isEmpty}, "attempted": $attemptedAll, """ +
      s""""failed": $failedAll, "metrics": {$body}, "steps": [$steps]}"""
    write(a("result"), json)
  }

  private def write(path: String, json: String): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try w.println(json) finally w.close()
  }

  /** A small fixed job, the same for every workload. */
  private def warmJob(s: SparkSession): Unit =
    s.range(200000L)
      .selectExpr("id", "id % 97 AS k", "CAST(id % 13 AS DOUBLE) AS v")
      .selectExpr("*",
        "avg(v) OVER (PARTITION BY k ORDER BY id ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS m")
      .join(s.range(97).selectExpr("id AS k", "id * 2 AS w"), "k")
      .selectExpr("k", "explode(array(v, m, CAST(w AS DOUBLE))) AS x")
      .groupBy("k").sum("x")
      .write.format("noop").mode("overwrite").save()

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the status store keeps every job, stage, task and SQL execution up to
      // these limits; the defaults let it grow with the loop's length, where
      // a daily process holds one day's history
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.ui.retainedTasks", "100")
      .config("spark.sql.ui.retainedExecutions", "5")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** The per-layer metric names a traced run reports, with their units. */
object PerLayer {
  val queries: Seq[String] =
    Seq("dedup_minhash_lsh", "dedup_winnow", "tok_encode", "ts_dtw_ref", "emb_kmeans")
  val names: Seq[String] = Seq(
    "io.ingest_s", "io.read_s", "io.features_write_s", "io.bytes_written", "io.files_written",
    "etl.sessionize_s", "etl.densify_s", "etl.interpolate_s",
    "etl.rows_in", "etl.rows_filtered", "etl.islands", "etl.grid_rows_added",
    "ind.frame_s", "ind.recursive_s", "ind.rows_out", "ind.warmup_drop_ratio",
    "ind.range_day_s") ++
    queries.map(q => s"q.${q}_s") ++ Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
    "spark.gc_s", "spark.busy_ratio", "spark.driver_s", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes",
    "plan.exchanges", "plan.sorts", "plan.windows")
  def unit(k: String): String =
    if (k.endsWith("_s")) "s"
    else if (k.endsWith("_bytes") || k.endsWith("bytes_written")) "bytes"
    else if (k.endsWith("_ratio")) "ratio"
    else "count"
}
