package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.config.Context
import graft.eval.Metrics
import graft.io.Tables
import graft.model.Training
import graft.pipeline.{Jobs, Production}
import graft.queries._

/** What a workload's measured window produced. `latencies` are the
  * per-operation times behind op_p50_s / op_p75_s; an operation is a query
  * (operator_mix) or a whole chain (propensity_model, catalog_jobs).
  * `attempted` / `failed` count queries, chain stages or catalog tasks. */
final case class Outcome(
    units: Int,
    latencies: Seq[Double],
    correctOps: Int,
    attempted: Int,
    failed: Int,
    layers: Map[String, Double],
    detail: Map[String, Any],
    observed: Map[String, Any])

/** One benchmark workload. `open` builds the session the way the workload's
  * users do; `run` runs units of work (a pass over the queries, one chain)
  * and checks the output of each. A failed check, or a check that cannot
  * read an output, counts as a failed operation. */
trait Workload {
  def name: String
  def open(a: Args): SparkSession
  def run(spark: SparkSession, tr: Tracer, a: Args, expected: Expected): Outcome

  /** Units run back to back until `seconds` have passed; at least one. */
  protected def loop[U](seconds: Double)(unit: Int => U): Seq[U] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer[U]()
    while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) out += unit(out.size)
    out.toSeq
  }

  protected def clearState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Workloads {
  val all: Seq[Workload] = Seq(OperatorMix, PropensityModel, CatalogJobs)
  def named(n: String): Workload =
    all.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"unknown workload '$n'; known: ${all.map(_.name).mkString(", ")}"))

  /** Row count plus an order-insensitive hash over every column, in one
    * aggregation: the wrapping sum of per-row xxhash64. Map columns hash
    * through their sorted entries. */
  def materialize(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(df(f.name)))
        case _ => df(f.name)
      }
    }
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*))).head()
    (r.getLong(0), if (r.isNullAt(1)) "null" else r.getLong(1).toString)
  }

  /** Rows of a written zone; -1 when it is missing or unreadable. */
  def rows(spark: SparkSession, path: String): Long =
    scala.util.Try(spark.read.parquet(path).count()).getOrElse(-1L)
}

/** Queries of the reference-surface families through SparkEntry's
  * registry, in seed-shuffled order. A unit is one pass over a fixed
  * subset, two of every five queries of each family in name order, so that
  * every run measures the same queries whatever the seed. */
object OperatorMix extends Workload {
  val name = "operator_mix"

  val families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "relational" -> RelationalQueries.queries,
    "profile" -> ProfileQueries.queries,
    "features" -> FeatureQueries.queries,
    "eval" -> EvalQueries.queries,
    "pipeline" -> PipelineQueries.queries)

  def open(a: Args): SparkSession = graft.Sessions.local(a.cores.toString)

  def run(spark: SparkSession, tr: Tracer, a: Args, expected: Expected): Outcome = {
    val registry = graft.SparkEntry.queries
    val queries = families.flatMap { case (f, qs) =>
      qs.keys.toSeq.sorted.zipWithIndex.collect { case (n, i) if i % 5 == 0 || i % 5 == 2 => (f, n, registry(n)) }
    }
    // the pass opens with each family's first query, the same in every
    // run, so the JVM's first-query warm-up lands on the same queries
    val opening = families.map { case (f, _) => queries.find(_._1 == f).get }
    val order = opening ++ new Random(a.seed).shuffle(queries.filterNot(opening.contains))
    val lat = mutable.ArrayBuffer[Double]()
    val observed = mutable.LinkedHashMap[String, Any]()
    var correct, failed = 0
    val passes = loop(a.seconds) { _ =>
      tr.span("pass") {
        order.foreach { case (family, q, fn) =>
          clearState(spark)
          try {
            val ((n, hash), t) = timed {
              tr.span(s"queries.$family", "query" -> q)(Workloads.materialize(fn(spark, a.data)))
            }
            lat += t
            observed(q) = Map("rows" -> n, "hash" -> hash)
            if (expected.query(q).exists(_.matches(n, hash))) correct += 1
            else {
              failed += 1
              System.err.println(s"[perfbench] $q: $n rows, hash $hash; expected ${expected.query(q)}")
            }
          } catch {
            case e: Exception =>
              failed += 1
              System.err.println(s"[perfbench] $q FAILED: ${e.getMessage}")
          }
        }
      }
    }
    val attempted = passes.size * order.size
    Outcome(passes.size, lat.toSeq, correct, attempted, failed,
      Map.empty, Map("queries" -> order.size), observed.toMap)
  }
}

/** The reference's end product through the library path its notebooks
  * use: e1 features -> grid-searched logistic regression -> saved model
  * -> scores -> evaluation tables, every table written with
  * Tables.saveData. A unit is one chain. */
object PropensityModel extends Workload {
  val name = "propensity_model"

  // the feature columns of the shipped model-gen job
  val featureCols = Seq(
    "c_acctbal", "last_click_date_diff", "total_click_value",
    "last_view_date_diff", "total_view_value",
    "last_purchase_date_diff", "total_purchase_value")
  // the shipped model-gen param grid and fold count
  val grid: Map[String, Seq[Any]] = Map("regParam" -> Seq(0.0, 0.1), "elasticNetParam" -> Seq("0.0"))
  val folds = 2
  val stages = Seq("features.e1", "model.fit", "model.save", "model.score", "eval.report")

  def open(a: Args): SparkSession = graft.Sessions.local(a.cores.toString)

  def run(spark: SparkSession, tr: Tracer, a: Args, expected: Expected): Outcome = {
    val lat = mutable.ArrayBuffer[Double]()
    var correct, failed, attempted = 0
    val observed = mutable.LinkedHashMap[String, Any]()
    val detail = mutable.LinkedHashMap[String, Any]()
    val units = loop(a.seconds) { i =>
      clearState(spark)
      val dir = a.work.resolve(s"propensity-$i").toString
      def write(df: DataFrame, zone: String): Unit =
        tr.span("io.write", "zone" -> zone)(Tables.saveData(df, s"$dir/$zone"))
      var model: org.apache.spark.ml.PipelineModel = null
      val done = mutable.ArrayBuffer[String]()
      def stage(n: String)(body: => Unit): Unit =
        if (done.size == stages.indexOf(n)) {
          try { tr.span(n)(body); done += n }
          catch {
            case e: Exception => System.err.println(s"[perfbench] $n FAILED: ${e.getMessage}")
          }
        }
      val (_, t) = timed {
        tr.span("propensity") {
          stage("features.e1")(write(PipelineQueries.e1(spark, a.data).na.fill(0), "features"))
          stage("model.fit") {
            model = Training.gridSearch(spark.read.parquet(s"$dir/features"), "target_var",
              featureCols, "logistic_regression", grid, folds)
              .bestModel.asInstanceOf[org.apache.spark.ml.PipelineModel]
          }
          stage("model.save")(Training.saveModel(model, s"$dir/model"))
          stage("model.score") {
            write(Training.score(model, spark.read.parquet(s"$dir/features"))
              .select("c_custkey", "target_var", "score"), "predictions")
          }
          stage("eval.report") {
            val preds = spark.read.parquet(s"$dir/predictions")
            write(Metrics.binaryMetricsAtThreshold(preds, "score", "target_var", 0.5), "metrics")
            write(Metrics.rocPrCurve(preds, "score", "target_var"), "roc_curve")
            write(Metrics.liftTable(preds, "score", "target_var"), "lift")
          }
        }
      }
      // output checks, outside the timed chain
      val ok = mutable.LinkedHashMap[String, Boolean]()
      stages.foreach(s => ok(s) = done.contains(s))
      val counts = Seq("features", "predictions", "metrics", "roc_curve", "lift")
        .map(z => z -> Workloads.rows(spark, s"$dir/$z")).toMap
      counts.foreach { case (z, n) => observed(s"rows.$z") = n }
      val auc = scala.util.Try(
        Metrics.aucMetrics(spark.read.parquet(s"$dir/predictions"), "score", "target_var")._1)
        .getOrElse(Double.NaN)
      observed("auc") = auc
      detail("auc") = auc
      detail("feature_rows") = counts("features")
      def rowsOk(z: String) = expected.rows(name, z).contains(counts(z))
      ok("features.e1") &&= rowsOk("features")
      ok("model.save") &&= Files.exists(Paths.get(s"$dir/model/metadata"))
      ok("model.score") &&= rowsOk("predictions") && auc > 0.5 && auc <= 1.0 &&
        expected.value(name, "auc").contains(auc)
      ok("eval.report") &&= rowsOk("metrics") && rowsOk("roc_curve") && rowsOk("lift")
      ok.filterNot(_._2).keys.foreach(s => System.err.println(s"[perfbench] stage $s failed its check"))
      attempted += stages.size
      failed += ok.count(!_._2)
      lat += t
      if (ok.values.forall(identity)) correct += 1
    }
    Outcome(units.size, lat.toSeq, correct, attempted, failed, Map.empty, detail.toMap, observed.toMap)
  }
}

/** The production path: Context.fromConfigFile on a benchmark-owned copy
  * of the shipped conf shapes, then Jobs.run of the shipped corpus-curation
  * job and an ann-serving build-index (ivfpq) + search over a seeded
  * sample of indexed vectors. A unit is both Jobs.run calls. */
object CatalogJobs extends Workload {
  val name = "catalog_jobs"
  val sampleSize = 50
  val k = 10

  /** Output zone of each task, checked for its row count. */
  val zones: Seq[(String, String, String)] = Seq(
    ("corpus-curation", "dedup-corpus", "clean.documents"),
    ("corpus-curation", "quality-filter", "clean.documents_filtered"),
    ("corpus-curation", "redact-pii", "clean.documents_redacted"),
    ("corpus-curation", "text-quality", "processed.text_stats"),
    ("corpus-curation", "chunk-documents", "processed.chunks"),
    ("corpus-curation", "repetition-report", "processed.repetition_stats"),
    ("corpus-curation", "contamination-report", "processed.contamination"),
    ("corpus-curation", "decontaminate", "clean.documents_decontaminated"),
    ("corpus-curation", "near-dup-report", "processed.near_dup_pairs"),
    ("corpus-curation", "span-coverage-report", "processed.span_coverage"),
    ("corpus-curation", "sample-mix", "processed.mix_plan"),
    ("corpus-curation", "cluster-safe-split", "clean.documents_split"),
    ("ann-serving", "build-index", "models.ann_index"),
    ("ann-serving", "search", "processed.neighbors"))

  /** The layer (module) each task exercises. */
  val layerOf: Map[String, String] = Map(
    "dedup-corpus" -> "dedup", "near-dup-report" -> "dedup",
    "quality-filter" -> "text", "redact-pii" -> "text", "text-quality" -> "text",
    "chunk-documents" -> "text", "repetition-report" -> "text",
    "contamination-report" -> "text", "decontaminate" -> "text",
    "span-coverage-report" -> "text",
    "sample-mix" -> "sampling", "cluster-safe-split" -> "sampling",
    "build-index" -> "similarity", "search" -> "similarity")

  /** The benchmark's conf tree, copied into `work` with the run's inputs,
    * zones and seed filled in. */
  def writeConfig(a: Args, work: Path): Path = {
    val src = a.conf
    val dst = work.resolve("conf")
    Files.walk(src).forEach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.writeString(t, Files.readString(f)
        .replace("@RAW@", a.data).replace("@WORK@", work.toString).replace("@SEED@", a.seed.toString))
    }
    dst.resolve("config.yml")
  }

  def context(a: Args, work: Path): Context =
    Context.fromConfigFile(writeConfig(a, work).toString, s"local[${a.cores}]")

  def open(a: Args): SparkSession = {
    Production.registerAll()
    context(a, a.work.resolve("catalog-setup")).spark
  }

  def run(spark: SparkSession, tr: Tracer, a: Args, expected: Expected): Outcome = {
    val lat = mutable.ArrayBuffer[Double]()
    val layers = mutable.Map[String, Double]().withDefaultValue(0.0)
    val observed = mutable.LinkedHashMap[String, Any]()
    val detail = mutable.LinkedHashMap[String, Any]()
    var correct, failed, attempted = 0
    val units = loop(a.seconds) { i =>
      clearState(spark)
      val work = a.work.resolve(s"catalog-$i")
      val ctx = context(a, work)
      val (_, t) = timed {
        tr.span("catalog") {
          val (_, t1) = timed(tr.span("pipeline.corpus-curation")(Jobs.run(ctx, "corpus-curation")))
          // the seeded query sample: 50 indexed vectors, chosen by a seeded hash
          tr.span("bench.query_sample") {
            spark.read.parquet(ctx.dataPath("raw.embeddings"))
              .orderBy(xxhash64(col("vec_id"), lit(a.seed)), col("vec_id"))
              .limit(sampleSize)
              .write.parquet(ctx.dataPath("raw.query_embeddings"))
          }
          val (_, t2) = timed(tr.span("pipeline.ann-serving")(Jobs.run(ctx, "ann-serving")))
          t1 + t2
        }
      }
      val catalogS = t
      // checks: every task ok in the run log, every zone its expected rows
      val records = ctx.trackingPath.map(Paths.get(_)).filter(Files.exists(_))
        .map(p => Files.readAllLines(p).asScala.toSeq.map(RunLog.parse)).getOrElse(Nil)
      val ok = mutable.LinkedHashMap[String, Boolean]()
      zones.foreach { case (job, task, zone) =>
        val rec = records.find(r => r.job == job && r.task == task)
        val status = rec.exists(_.status == "ok")
        rec.foreach(r => layers(s"pipeline.$job.${task}_s") += r.wallSec)
        // the index is a directory of sidecars, not one table: it must exist
        val n =
          if (zone == "models.ann_index") { if (Files.exists(Paths.get(ctx.dataPath(zone)))) 0L else -1L }
          else Workloads.rows(spark, ctx.dataPath(zone))
        observed(s"rows.$zone") = n
        val rowsOk = if (zone == "models.ann_index") n == 0L else expected.rows(name, zone).contains(n)
        ok(task) = status && rowsOk
        if (!ok(task)) System.err.println(s"[perfbench] $job/$task: status ok=$status, $zone rows $n")
      }
      val taskSum = records.map(_.wallSec).sum
      layers("chain.unaccounted_s") += catalogS - taskSum
      detail("recall_at_k") = scala.util.Try(CatalogRecall(spark, ctx, k)).getOrElse(Double.NaN)
      detail("k") = k
      ok("search") &&= observed("rows.processed.neighbors") == (sampleSize * k).toLong
      // the mixed sample itself is seeded, so only its plan has pinned rows
      val mixed = Workloads.rows(spark, ctx.dataPath("clean.documents_mixed"))
      detail("mixed_rows") = mixed
      ok("sample-mix") &&= mixed > 0
      attempted += zones.size
      failed += ok.count(!_._2)
      lat += catalogS
      if (ok.values.forall(identity)) correct += 1
    }
    val perUnit = layers.map { case (m, v) => m -> v / units.size }.toMap
    Outcome(units.size, lat.toSeq, correct, attempted, failed, perUnit, detail.toMap, observed.toMap)
  }
}

object CatalogRecall {
  /** Recall@k of the served neighbors of the seeded query sample against
    * exact cosine top-k over the indexed vectors. The search never returns
    * a query's own id (it filters self-matches), so the exact lists leave
    * it out too. */
  def apply(spark: SparkSession, ctx: Context, k: Int): Double = {
    def vectors(zone: String): Map[Long, Array[Double]] =
      spark.read.parquet(ctx.dataPath(zone)).select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val corpus = vectors("raw.embeddings").map { case (id, v) => id -> unit(v) }
    val queries = vectors("raw.query_embeddings").keys.toSeq
    val served = spark.read.parquet(ctx.dataPath("processed.neighbors"))
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    queries.map { q =>
      val exact = corpus.toSeq.filter(_._1 != q)
        .sortBy { case (id, v) => (-v.zip(corpus(q)).map { case (a, b) => a * b }.sum, id) }
        .take(k).map(_._1).toSet
      (exact & served.getOrElse(q, Set.empty)).size.toDouble / k
    }.sum / queries.size
  }
}

/** One line of the program's run log (pipeline.Tracking JSONL). */
final case class RunLog(job: String, task: String, status: String, wallSec: Double)

object RunLog {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper
  def parse(line: String): RunLog = {
    val n = mapper.readTree(line)
    RunLog(n.get("job").asText, n.get("task").asText, n.get("status").asText, n.get("wall_sec").asDouble)
  }
}
