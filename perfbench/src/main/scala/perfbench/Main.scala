package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: Path, conf: Path, expected: Option[Path],
    out: Path, spans: Option[Path], cores: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("data"), Paths.get(req("work")), Paths.get(req("conf")),
      kv.get("expected").map(Paths.get(_)), Paths.get(req("out")), kv.get("spans").map(Paths.get(_)),
      Runtime.getRuntime.availableProcessors)
  }
}

/** Expected outputs, recorded at the parent commit (see run.py --record). */
final case class QueryExpect(rows: Long, hash: Option[String]) {
  def matches(n: Long, h: String): Boolean = n == rows && hash.forall(_ == h)
}

final class Expected(root: Option[JsonNode]) {
  private def at(path: String*): Option[JsonNode] =
    root.flatMap(r => Option(path.foldLeft(r)((n, k) => n.path(k))).filterNot(_.isMissingNode))
  def query(q: String): Option[QueryExpect] =
    at("operator_mix", "queries", q).map { n =>
      QueryExpect(n.path("rows").asLong, Option(n.get("hash")).filterNot(_.isNull).map(_.asText))
    }
  def rows(workload: String, zone: String): Option[Long] = at(workload, "rows", zone).map(_.asLong)
  def value(workload: String, key: String): Option[Double] = at(workload, key).map(_.asDouble)
}

/** One benchmark run of one workload in this JVM: set-up (several times),
  * a measured window, output checks, and a result file for run.py. */
object Main {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (NaN for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** Keep the session's checkpoint files inside the run's work dir: move a
    * checkpoint dir created elsewhere (Sessions.local makes one in a temp
    * dir) under `work`, and delete the original. */
  private def keepCheckpointsInside(spark: SparkSession, work: Path): Unit =
    spark.sparkContext.getCheckpointDir.foreach { d =>
      val dir = Paths.get(new java.net.URI(d).getPath)
      if (!dir.startsWith(work)) {
        spark.sparkContext.setCheckpointDir(work.resolve("checkpoints").toString)
        deleteRecursively(dir.getParent)
      }
    }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val w = Workloads.named(a.workload)
    val expected = new Expected(a.expected.map(p => new ObjectMapper().readTree(p.toFile)))
    Files.createDirectories(a.work)

    // set-up, several times: session build + untimed warm-up, as Bench does
    val sessionS, setupS = scala.collection.mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    (1 to 3).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = w.open(a)
      keepCheckpointsInside(spark, a.work)
      val t1 = System.nanoTime()
      spark.read.parquet(s"${a.data}/region.parquet").groupBy("r_name").count().count()
      val t2 = System.nanoTime()
      sessionS += (t1 - t0) / 1e9
      setupS += (t2 - t0) / 1e9
    }

    val runId = s"${a.workload}-seed${a.seed}-${if (a.trace) "traced" else "untraced"}-${System.currentTimeMillis}"
    val tr = new Tracer(runId, if (a.trace) Some(spark) else None)
    val o = w.run(spark, tr, a, expected)

    val e2e = Seq(
      ("setup_s", median(setupS.toSeq), "s"),
      ("op_p50_s", quantile(o.latencies, 0.5), "s"),
      ("op_p75_s", quantile(o.latencies, 0.75), "s"),
      ("ops_per_s", o.correctOps / o.latencies.sum, "1/s"),
      ("peak_rss_mb", peakRssMb(), "MB"))

    val layers = if (a.trace) Layers.of(tr, o, sessionS.toSeq) else Nil
    a.spans.foreach(tr.writeJsonl)

    def metrics(ms: Seq[(String, Double, String)]) =
      ListMap(ms.map { case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u) }: _*)
    val result = Json.write(ListMap(
      "workload" -> a.workload, "seed" -> a.seed, "traced" -> a.trace,
      "spark_version" -> spark.version, "cores" -> a.cores, "units" -> o.units,
      "ops" -> o.latencies.size, "attempted" -> o.attempted, "failed" -> o.failed,
      "setups_s" -> setupS.toSeq, "end_to_end" -> metrics(e2e), "per_layer" -> metrics(layers),
      "detail" -> o.detail, "observed" -> o.observed))
    Files.write(a.out, result.getBytes("UTF-8"))
    spark.stop()
  }
}

/** Per-layer metrics of a traced run, each per unit of work. */
object Layers {
  val stageSpans = Seq("features.e1", "model.fit", "model.save", "model.score", "eval.report")
  val roots = Set("pass", "propensity", "catalog")

  def of(tr: Tracer, o: Outcome, sessionS: Seq[Double]): Seq[(String, Double, String)] = {
    val spans = tr.spans.map(_._2)
    val per = (x: Double) => x / o.units
    def secs(name: String) = per(spans.filter(_.name == name).map(_.seconds).sum)
    // engine counts of the units themselves: root spans, minus the
    // benchmark's own work inside them (bench.* spans)
    val mine = spans.filter(s => roots(s.name))
    val bench = spans.filter(_.name.startsWith("bench."))
    val engine = mine.map(_.engine).foldLeft(Counts())(_ + _) - bench.map(_.engine).foldLeft(Counts())(_ + _)
    val gap = mine.map(_.driverGapS).sum - bench.map(_.driverGapS).sum
    val unaccounted = o.layers.getOrElse("chain.unaccounted_s", {
      val ids = tr.spans.filter(s => roots(s._2.name)).map(_._1).toSet
      per(tr.spans.filter(s => ids(s._1)).map(_._2.seconds).sum -
        tr.spans.filter(s => ids(s._2.parent)).map(_._2.seconds).sum)
    })
    val tasks = CatalogJobs.zones.map { case (job, task, _) =>
      (s"pipeline.$job.${task}_s", o.layers.getOrElse(s"pipeline.$job.${task}_s", 0.0), "s")
    }
    val modules = Seq("dedup", "text", "sampling", "similarity").map { m =>
      (s"$m.tasks_s", CatalogJobs.zones.collect {
        case (job, task, _) if CatalogJobs.layerOf(task) == m => o.layers.getOrElse(s"pipeline.$job.${task}_s", 0.0)
      }.sum, "s")
    }
    Seq(("config.session_s", Main.median(sessionS), "s")) ++
      OperatorMix.families.map { case (f, _) => (s"queries.${f}_s", secs(s"queries.$f"), "s") } ++
      stageSpans.map(n => (s"${n}_s", secs(n), "s")) ++
      Seq(("model.fit_jobs", per(spans.filter(_.name == "model.fit").map(_.engine.jobs.toDouble).sum), "count"),
        ("io.write_s", per(engine.writeS), "s"),
        ("io.write_bytes", per(engine.writeBytes.toDouble), "bytes"),
        ("io.read_bytes", per(engine.readBytes.toDouble), "bytes")) ++
      tasks ++ modules ++
      Seq(("spark.planning_s", per(engine.planningS), "s"),
        ("spark.driver_gap_s", per(gap), "s"),
        ("spark.jobs", per(engine.jobs.toDouble), "count"),
        ("spark.stages", per(engine.stages.toDouble), "count"),
        ("spark.tasks", per(engine.tasks.toDouble), "count"),
        ("spark.task_s", per(engine.taskS), "s"),
        ("spark.sched_delay_s", per(engine.schedDelayS), "s"),
        ("spark.gc_s", per(engine.gcS), "s"),
        ("spark.shuffle_read_bytes", per(engine.shuffleReadBytes.toDouble), "bytes"),
        ("spark.shuffle_write_bytes", per(engine.shuffleWriteBytes.toDouble), "bytes"),
        ("spark.spill_bytes", per(engine.spillBytes.toDouble), "bytes"),
        ("chain.unaccounted_s", unaccounted, "s"))
  }
}
