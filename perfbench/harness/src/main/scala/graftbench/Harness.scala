package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{BenchIntegrity, GraftQuery, GraftSession, SparkEntry, Tables}
import graft.ml.Classifiers
import graft.operators._
import graft.sources.EhrCsv
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Driver JVM of the graft benchmark. Builds and warms a GraftSession,
  * prints `READY` on stdout, then runs one workload as a closed loop with
  * one client and writes what it measured to `--out` as JSON.
  *
  * Before the loop each workload makes one untimed pass that checks its
  * outputs; the first pass in a JVM pays JIT and code generation, so the
  * timed passes are warm. With `--trace 1` the workload runs untraced,
  * traced and untraced again, each for `--seconds`, and the spans are
  * added to the output.
  */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    // never outlive the runner that launched this JVM
    ProcessHandle.current().parent().ifPresent(_.onExit().thenRun(() => Runtime.getRuntime.halt(3)))
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val work = opt("work")
    val cpus = opt("cpus").toInt
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setCheckpointDir(s"$work/checkpoint")
    val t1 = System.nanoTime()
    spark.range(1000).selectExpr("sum(id)").collect()
    val t2 = System.nanoTime()
    val setup = Map("build_ms" -> (t1 - t0) / 1e6, "warmup_ms" -> (t2 - t1) / 1e6)
    println("READY " + mapper.writeValueAsString(setup))
    System.out.flush()

    val host = Host(spark)
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val tracer = new Tracer
    val calls = new Calls(tracer)
    val w: Workload = workload match {
      case "ehr_classify" => new EhrClassify(spark, data, work, calls, tracer,
        opt("models").split(",").toSeq, opt("auc-floor").toDouble)
      case "registry_mix" => new RegistryMix(spark, data, work, calls, opt("queries").split(",").toSeq)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val p0 = System.nanoTime()
    w.prepare()
    val prepareMs = (System.nanoTime() - p0) / 1e6
    calls.samples.clear()
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    // at least two passes per phase: a percentile then rests on two
    // samples of each call, not on one
    def loop(phase: String): Unit = {
      val start = System.nanoTime()
      var n = 0
      while (n < 2 || (System.nanoTime() - start) / 1e9 < seconds) {
        val p0 = System.nanoTime()
        val docs = w.pass()
        passes += Map("phase" -> phase, "ms" -> (System.nanoTime() - p0) / 1e6, "docs" -> docs)
        n += 1
      }
    }
    loop("untraced")
    if (traced) {
      // untraced passes on both sides, so the passes' own warm-up trend
      // does not read as tracing overhead
      tracer.start(spark)
      loop("traced")
      tracer.stop(spark)
      loop("untraced")
    }
    val out = mutable.LinkedHashMap[String, Any](
      "setup" -> setup, "prepare_ms" -> prepareMs, "attempted" -> calls.attempted, "failed" -> calls.failed,
      "errors" -> calls.errors.toList,
      "samples" -> calls.samples.map { case (n, ms) => List(n, ms) }.toList,
      "passes" -> passes.toList, "host" -> host.finish(), "rss_hwm_kb" -> Host.hwmKb())
    if (traced) out("trace") = tracer.dump()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), mapper.writeValueAsString(out))
    spark.stop()
  }
}

/** Host context recorded beside each run's metrics: load average and a
  * fixed CPU-bound smoke timing at start and end. None is a metric; they
  * tell a run taken on a loaded host from a regression.
  */
final case class Host(spark: SparkSession) {
  private def smoke(): Double = {
    val t0 = System.nanoTime()
    spark.range(50L * 1000 * 1000).selectExpr("sum(id * 3 + 1)").collect()
    (System.nanoTime() - t0) / 1e9
  }
  private def load(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  private val start = (load(), smoke())

  def finish(): Map[String, Any] = {
    val end = (smoke(), load())
    Map("loadavg" -> List(start._1, end._2), "smoke_s" -> List(start._2, end._1))
  }
}

object Host {
  /** Peak resident set of this JVM (VmHWM), in KiB. */
  def hwmKb(): Long = scala.io.Source.fromFile("/proc/self/status").getLines()
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
}

trait Workload {
  /** The untimed first pass: warm-up and output checks. */
  def prepare(): Unit
  /** One pass; returns the input documents it covered. */
  def pass(): Long

  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** The paper's pipeline: ingest, normalize, featurize, classify, evaluate,
  * write predictions. Each pass starts from an empty SessionCache, so it
  * pays its featurization and fits again, and checks its outputs.
  */
final class EhrClassify(spark: SparkSession, data: String, work: String, calls: Calls,
    tracer: Tracer, models: Seq[String], aucFloor: Double) extends Workload {
  private val facts = new ObjectMapper().readTree(new java.io.File(s"$data/manifest.json")).get("facts")
  private val docs = facts.get("documents").asLong()
  private val testRows = facts.get("test_rows").asLong()

  private def step(name: String)(body: => Unit): Unit = tracer.span(s"pipeline:$name")(body)

  private val normalizers: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "TextQueries.cleanArtefacts" -> TextQueries.cleanArtefacts,
    "TextQueries.simpleClean" -> TextQueries.simpleClean,
    "TextQueries.removeAccents" -> TextQueries.removeAccents,
    "TextQueries.stemDutch" -> TextQueries.stemDutch,
    "TextQueries.stopwordFilter" -> TextQueries.stopwordFilter,
    "TypoCorrection.typoCorrect" -> TypoCorrection.typoCorrect)

  def prepare(): Unit = pass()

  def pass(): Long = {
    BenchIntegrity.coldReset(spark)
    step("ingest") {
      calls.call("sources:EhrCsv.readEhr")(noop(EhrCsv.readEhr(spark, s"$data/ehr.csv")))
      calls.call("Tables:Tables.load")(Tables.documents(spark, data))
      calls.call("operators:TextQueries.mergeEntries")(noop(TextQueries.mergeEntries(spark, data)))
    }
    step("normalize") {
      normalizers.foreach { case (n, f) => calls.call(s"functions:$n")(noop(f(spark, data))) }
    }
    step("features") {
      calls.call("operators:Features.tfidf")(noop(Features.tfidf(spark, data)))
    }
    step("classify") {
      calls.call("ml:Classifiers.featurized") {
        val (train, test) = Classifiers.featurized(spark, data)
        train.count() + test.count()
      }
      calls.call("SessionCache:Classifiers.featurized")(Classifiers.featurized(spark, data))
      models.foreach(m => calls.call(s"ml:Classifiers.fit.$m")(Classifiers.model(spark, data, m)))
    }
    step("evaluate") {
      models.foreach { m =>
        calls.call(s"ml:Classifiers.holdoutScores.$m") {
          Classifiers.holdoutScores(spark, data, m).select("y", "score").collect()
            .map(r => (r.getInt(0), r.getDouble(1)))
        }.foreach { ys =>
          calls.check(s"holdout_rows.$m", ys.length == testRows, s"${ys.length} rows, test half is $testRows")
          val auc = EhrClassify.auc(ys)
          calls.check(s"auc.$m", auc >= aucFloor, f"AUC $auc%.4f below floor $aucFloor")
        }
      }
      calls.call("operators:Evaluation.rocCurve")(noop(Evaluation.rocCurve(spark, data)))
      calls.call("operators:Evaluation.optimalCutoff")(Evaluation.optimalCutoff(spark, data).collect())
        .foreach(r => calls.check("optimal_cutoff", r.length == 1, s"${r.length} rows"))
    }
    step("egress") {
      calls.call("sources:EhrCsv.writePredictions")(
        EhrCsv.writePredictions(Classifiers.holdoutScores(spark, data, models.head), s"$work/predictions"))
    }
    docs
  }
}

object EhrClassify {
  /** ROC AUC with ties counted half (Mann-Whitney U). */
  def auc(ys: Seq[(Int, Double)]): Double = {
    val sorted = ys.sortBy(_._2).toIndexedSeq
    var rankSumPos = 0.0
    var i = 0
    while (i < sorted.size) {
      var j = i
      while (j < sorted.size && sorted(j)._2 == sorted(i)._2) j += 1
      val midRank = (i + 1 + j) / 2.0
      (i until j).foreach(k => if (sorted(k)._1 == 1) rankSumPos += midRank)
      i = j
    }
    val pos = ys.count(_._1 == 1).toDouble
    val neg = ys.size - pos
    if (pos == 0 || neg == 0) Double.NaN else (rankSumPos - pos * (pos + 1) / 2) / (pos * neg)
  }
}

/** A seed-shuffled sequence of repeatable registered queries. `prepare`
  * runs each once, untimed, and writes its rows and its oracle SQL under
  * `check/` for the DuckDB comparison; a pass then times builder call
  * plus noop write.
  */
final class RegistryMix(spark: SparkSession, data: String, work: String, calls: Calls,
    queries: Seq[String]) extends Workload {
  private val byName = SparkEntry.all.map(q => q.name -> q).toMap
  private val docs = spark.read.parquet(s"$data/documents.parquet").count()
  queries.foreach { q =>
    require(byName.get(q).exists(!_.singleShot), s"$q is not a repeatable registered query")
  }

  private def label(q: String): String = s"${RegistryMix.module(q)}:$q"

  def prepare(): Unit = {
    val sql = queries.flatMap(q => byName(q).oracle.map(q -> _)).toMap
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$work/check"))
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(s"$work/check/oracle_sql.json"), sql)
    queries.foreach(check)
  }

  private def check(q: String): Unit =
    calls.call(label(q)) {
      val df = byName(q).fn(spark, data)
      val rows = df.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .write.mode("overwrite").parquet(s"$work/check/$q")
    }

  def pass(): Long = {
    queries.foreach(q => calls.call(label(q))(noop(byName(q).fn(spark, data))))
    docs
  }
}

object RegistryMix {
  private val modules: Seq[(String, Seq[GraftQuery])] = Seq(
    "operators.Relational" -> Relational.queries, "operators.TextQueries" -> TextQueries.queries,
    "operators.Features" -> Features.queries, "operators.Evaluation" -> Evaluation.queries,
    "operators.Dedup" -> Dedup.queries, "operators.Similarity" -> Similarity.queries,
    "operators.TextAnalysis" -> TextAnalysis.queries, "operators.EventOps" -> EventOps.queries,
    "operators.Extras" -> Extras.queries, "operators.Curation" -> Curation.queries,
    "operators.Corpus" -> Corpus.queries, "streaming.StreamQueries" -> graft.streaming.StreamQueries.queries)

  /** The module a registered query lives in; the TopKPerKey head is
    * attributed to the plans layer it exercises.
    */
  def module(q: String): String =
    if (q == "q_window_topk_heap") "plans.TopKPerKey"
    else modules.collectFirst { case (m, qs) if qs.exists(_.name == q) => m }.getOrElse("operators")
}
