package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.operators.{Corpus, Embeddings, NearDup, Relational}
import graft.pipeline.{GraftConfig, IncidentPipeline}
import graft.sources.Tables
import graft.functions.{TextFns, VecFns}

/** One workload's calls into graft. `op` does the timed work of one
  * operation and returns the digest of its output as a thunk, which the
  * harness forces outside the operation's timed span. */
trait Workload {
  def warmUp(spark: SparkSession, dir: String, names: Seq[String], work: String): Unit
  def beforeRound(spark: SparkSession): Unit = ()
  def op(spark: SparkSession, dir: String, name: String, id: Int, tr: Tracer,
      work: String): () => String
}

/** A registered SparkEntry query, as `graft.Bench` runs it: the operator
  * call (construction, where eager jobs run), then the `noop` sink, which
  * plans and executes the query and reads every output column. The digest
  * runs the query again, outside the timed span. */
class EntryWorkload extends Workload {
  def warmUp(spark: SparkSession, dir: String, names: Seq[String], work: String): Unit =
    names.distinct.foreach(n => EntryWorkload.sink(SparkEntry.queries(n)(spark, dir)))

  def op(spark: SparkSession, dir: String, name: String, id: Int, tr: Tracer,
      work: String): () => String = {
    val df = tr.span("construct", id)(SparkEntry.queries(name)(spark, dir))
    tr.span("execute", id)(EntryWorkload.sink(df))
    () => Digest.of(df)
  }
}

object EntryWorkload {
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** A curation batch: every round starts from released session memos, as
  * `graft.Bench` does. None of its operators serves from a durable store. */
class Curation extends EntryWorkload {
  override def beforeRound(spark: SparkSession): Unit = {
    NearDup.releaseCache(spark)
    Embeddings.releaseCache(spark)
    Corpus.releaseCache(spark)
    Relational.releaseCache(spark)
  }
}

/** `IncidentPipeline.run` over a one-day window, into a fresh directory.
  * Traced, the call runs under one span; the listener splits its jobs
  * into run's stages by their call sites (see [[SpanListener]]). */
class Incident extends Workload {
  private def cfg(day: String): GraftConfig = {
    val d = java.time.LocalDate.parse(day)
    GraftConfig(sinceTs = s"$d 00:00:00", untilTs = s"${d.plusDays(1)} 00:00:00")
  }

  private def digest(spark: SparkSession, out: String, n: Long, prompt: String): String = {
    val d = s"${Digest.of(spark.read.parquet(s"$out/history"))}|$n|${Digest.md5(prompt)}"
    Harness.deleteTree(new java.io.File(out))
    d
  }

  /** Warmed over the full window: one sf0.001 day holds only a handful
    * of rows. */
  def warmUp(spark: SparkSession, dir: String, names: Seq[String], work: String): Unit = {
    val out = s"$work/incident/warm"
    val (n, prompt) = IncidentPipeline.run(spark, dir, out)
    digest(spark, out, n, prompt)
  }

  def op(spark: SparkSession, dir: String, name: String, id: Int, tr: Tracer,
      work: String): () => String = {
    val out = s"$work/incident/op$id"
    val c = cfg(name)
    val (n, prompt) = tr.span("execute", id)(IncidentPipeline.run(spark, dir, out, c))
    () => {
      if (tr.isEnabled) {
        val indexRows = spark.read.parquet(s"$out/index").count()
        tr.scored(indexRows * math.min(c.batchSize.toLong, indexRows), n)
      }
      digest(spark, out, n, prompt)
    }
  }
}

/** Digests of parquet directories, for cross-checking recorded digests
  * against outputs the DuckDB oracle has verified. */
class ParquetDirs extends Workload {
  def warmUp(spark: SparkSession, dir: String, names: Seq[String], work: String): Unit = ()
  def op(spark: SparkSession, dir: String, name: String, id: Int, tr: Tracer,
      work: String): () => String = {
    val d = Digest.of(spark.read.parquet(name))
    () => d
  }
}

/** Benchmark process: set-up, then closed-loop rounds of operations from
  * the plan file with one client thread, then a JSON result file.
  *
  * Arguments (all `--key value`): workload, plan, sf, warm, trace, cpus,
  * work, result, t0-ms. The plan holds one
  * `round<TAB>operation` line per request, generated from the seed. */
object Harness {
  final case class OpResult(name: String, round: Int, latS: Double,
      digest: String, error: String)

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  private def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val (sf, warm, work) = (a("sf"), a("warm"), a("work"))
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val rounds: IndexedSeq[IndexedSeq[String]] = {
      val src = scala.io.Source.fromFile(a("plan"), "UTF-8")
      try src.getLines().filter(_.nonEmpty).map(_.split('\t')).toIndexedSeq
        .groupBy(_(0).toInt).toIndexedSeq.sortBy(_._1).map(_._2.map(_(1)))
      finally src.close()
    }
    val names = rounds.flatten.distinct
    val wl: Workload = workloadName match {
      case "dashboard" => new EntryWorkload
      case "curation" => new Curation
      case "incident" => new Incident
      case "parquet" => new ParquetDirs
    }
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)

    val t = System.nanoTime()
    val spark = session(cpus, work)
    val sessionS = (System.nanoTime() - t) / 1e9
    wl.warmUp(spark, warm, names, work)
    val setupS = (mainMs - a("t0-ms").toLong) / 1e3 + (System.nanoTime() - t) / 1e9
    val tracer = new Tracer(spark, workloadName)

    val results = mutable.ArrayBuffer[OpResult]()
    val roundWalls = mutable.ArrayBuffer[(Int, Double)]()
    var opId = 0
    var checkS = 0.0
    def runRound(r: Int): Double = {
      wl.beforeRound(spark)
      var wall = 0.0
      rounds(r).foreach { name =>
        opId += 1
        val id = opId
        val t = System.nanoTime()
        val res = try Right(tracer.span("op", id)(wl.op(spark, sf, name, id, tracer, work)))
          catch { case e: Throwable => Left(e) }
        val lat = (System.nanoTime() - t) / 1e9
        wall += lat
        val tc = System.nanoTime()
        val (d, err) = res match {
          case Right(f) =>
            try (tracer.span("check", -1)(f()), "")
            catch { case e: Throwable => ("", e.toString) }
          case Left(e) => ("", e.toString)
        }
        checkS += (System.nanoTime() - tc) / 1e9
        if (err.nonEmpty) System.err.println(s"[perfbench] $name failed: ${err.take(300)}")
        results += OpResult(name, r, lat, d, err)
      }
      roundWalls += ((r, wall))
      wall
    }

    val layers = mutable.LinkedHashMap[String, Double]()
    if (!trace) rounds.indices.foreach(runRound)
    else {
      // the same first round as an untraced run, so its wall compares
      // with theirs; per-layer sums cover exactly this fixed work
      tracer.start()
      val traced = runRound(0)
      layers ++= tracer.layerMetrics((1 to opId).toSet, cpus)
      layers("pipeline.rag_scored_per_kept") = tracer.scoredPerKept
      layers("trace.traced_wall_s") = traced
      layers ++= Kernels.probe(spark, sf)
      val spansFile = s"$work/trace/$workloadName-spans.json"
      new java.io.File(spansFile).getParentFile.mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(spansFile), tracer.spansJson())
    }

    // storage memory the session's cached blocks hold once the timed
    // region is over: memos kept for later operations show up here
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

    val ops = results.map { o =>
      s"""{"name":${Json.str(o.name)},"round":${o.round},""" +
        s""""lat_s":${Json.num(o.latS)},"digest":${Json.str(o.digest)},"error":${Json.str(o.error)}}"""
    }.mkString("[\n", ",\n", "\n]")
    val walls = roundWalls.map { case (r, w) =>
      s"""{"round":$r,"wall_s":${Json.num(w)}}""" }.mkString("[", ",", "]")
    val layerJson = layers.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      .mkString("{", ",", "}")
    val json =
      s"""{"setup_s":${Json.num(setupS)},"session_s":${Json.num(sessionS)},""" +
        s""""check_s":${Json.num(checkS)},""" +
        s""""cached_mb":${Json.num(cachedMb)},""" +
        s""""rounds":$walls,"layers":$layerJson,"ops":$ops}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("result")), json)
    spark.stop()
    sys.exit(0)
  }
}

/** Kernel throughput: one public column function at a time over a
  * replicated column, through the noop sink. The scan probe is the same
  * plan with a bare projection, so the kernels' rates read against it. */
object Kernels {
  private def rate(spark: SparkSession, df: DataFrame): (Double, Double) = {
    val rows = df.count().toDouble
    val secs = (1 to 3).map { _ =>
      val t = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }.sorted
    (rows / secs(1), rows)
  }

  def probe(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    def rep(df: DataFrame, c: String, n: Int): DataFrame =
      df.select(explode(array_repeat(col(c), n)).as(c))
    val props = rep(Tables.events(spark, dir), "props", 10)
    val text = rep(Tables.documents(spark, dir), "text", 10)
    val vecs = rep(Tables.embeddings(spark, dir), "embedding", 100)
      .select(VecFns.toDouble(col("embedding")).as("embedding"))
    Seq(
      "sources.scan" -> props.select(col("props")),
      "expressions.embed" -> props.select(Embeddings.embedCol(col("props")).as("o")),
      "functions.redact_pii" -> props.select(TextFns.redactPii(col("props")).as("o")),
      "functions.redact_secrets" -> props.select(TextFns.redactSecrets(col("props")).as("o")),
      "functions.dot" -> vecs.select(VecFns.dot(col("embedding"), col("embedding")).as("o")),
      "functions.bpe_tokens" -> text.select(TextFns.bpeTokenCount(col("text")).as("o"))
    ).flatMap { case (name, df) =>
      val (perS, rows) = rate(spark, df)
      Seq(s"${name}_rows_per_s" -> perS, s"${name}_rows" -> rows)
    }
  }
}
