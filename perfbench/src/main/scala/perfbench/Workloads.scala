package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.etl.{F1, Ingestor}
import graft.ml.{AbtSplits, ChampionModel, Scoring}
import graft.sources.Csv

/** One benchmark operation as it ran: `phase` is `timed` (in the op
  * latency sample) or `step` (a pipeline step outside it). */
final case class OpRec(id: String, phase: String, ms: Double, cpuMs: Double,
                       ok: Boolean, err: String)

/** A result the runner checks after the JVM exits: the parquet at `path`
  * must hash to the expected value stored under `key`. */
final case class Check(op: String, key: String, path: String)

/** Shared plumbing: every call runs inside a span named after its layer,
  * is timed, and a throw marks the op failed without stopping the run. */
abstract class Workload(val spark: SparkSession, val tracer: Tracer,
                        val data: String, val out: String) {
  val ops = mutable.ArrayBuffer[OpRec]()
  val checks = mutable.ArrayBuffer[Check]()

  def run(calls: Seq[Seq[String]]): Unit

  def op[T](id: String, layer: String, phase: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val c0 = Main.cpuSeconds()
    val r = try Right(tracer.span(layer, id)(body))
      catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val cpuMs = (Main.cpuSeconds() - c0) * 1000
    val err = r.left.toOption.map { e =>
      val msg = Option(e.getMessage).getOrElse("").linesIterator.nextOption()
      s"${e.getClass.getName}: ${msg.getOrElse("")}".take(200)
    }
    ops += OpRec(id, phase, ms, cpuMs, r.isRight, err.orNull)
    r.toOption
  }

  private val pending = mutable.ArrayBuffer[(Check, () => DataFrame)]()

  /** Registers `df` for the runner's check of op `opId` against the
    * reference stored under `key`. The write is the harness's, not the
    * program's, so it waits for [[writeChecks]], after the measurement. */
  def keep(opId: String, key: String, df: => DataFrame): Unit = {
    val c = Check(opId, key, s"$out/checks/$key")
    checks += c
    pending += ((c, () => df))
  }

  /** Writes the registered check outputs, side by side, inside one
    * span. The span's job group and the job description keep the writes
    * out of the layer totals and of write_amp. */
  def writeChecks(): Unit = tracer.span(Tracer.ChecksDesc) {
    // threads created inside the span inherit its job group
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val write = (c: Check, df: () => DataFrame) => new java.util.concurrent.Callable[Unit] {
      def call(): Unit = graft.core.Jobs.labeled(spark, Tracer.ChecksDesc)(
        df().coalesce(1).write.parquet(c.path))
    }
    try pending.map { case (c, df) => pool.submit(write(c, df)) }.foreach(_.get())
    finally pool.shutdown()
    pending.clear()
  }

  /** Registers the collected rows of `df` as the check output of `opId`. */
  def keepRows(opId: String, key: String, df: DataFrame, rows: Array[Row]): Unit =
    keep(opId, key, spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema))
}

/** The reference pipeline, cold: bronze CSV -> champions -> the feature
  * store rebuilt one race date at a time (then every date again, in the
  * seeded replay order) -> ABT -> split -> RandomForest fit / score ->
  * top-k. Calls: `date <d>` and `replay <d>`. */
final class F1Medallion(spark: SparkSession, tracer: Tracer, data: String,
                        out: String, repo: String)
    extends Workload(spark, tracer, data, out) {

  def run(calls: Seq[Seq[String]]): Unit = {
    val store = s"$out/f1_store"
    val bronze = op("bronze", "sources.Csv", "step") {
      Csv.readBronze(spark, s"$repo/fixtures/f1_bronze/*.csv")
    }.get
    val champs = op("champions", "etl.F1", "step") {
      val c = tracer.plan(F1.champions(bronze)).persist()
      c.count()
      c
    }.get
    val ingestor = new Ingestor(spark, store, sliceCol = "dtRef", partCol = "dtYear")
    calls.foreach { case Seq(kind, d) =>
      op(s"$kind:$d", "etl.Ingestor", "timed") {
        def step() = ingestor.execDate(date =>
          tracer.span("etl.F1")(tracer.plan(F1.featureStore(bronze, date))), d)
        // the first date creates the store with a plain write that
        // carries no `replaceSlices` label: give it one, so the
        // sources.Sinks totals cover every store write
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(store))) step()
        else graft.core.Jobs.labeled(spark, Tracer.CreateDesc)(step())
      }
    }
    checks += Check("abt", "f1_store", store)
    val abt = op("abt", "etl.F1", "step") {
      val a = tracer.plan(F1.abt(spark.read.parquet(store), champs)
        .withColumnRenamed("flChamp", ChampionModel.labelCol)).persist()
      a.count()
      a
    }
    val split = abt.flatMap(a => op("split", "ml.AbtSplits", "step") {
      val sp = AbtSplits.split(a, "DriverId", "dtYear", ootYear = 2023)
      // MLlib's bagging draws per partition and row order, so the train
      // frame gets a content-keyed layout: the fit repeats bit for bit
      val train = sp.train.repartition(8, col("DriverId"), col("dtRef"))
        .sortWithinPartitions("DriverId", "dtRef").persist()
      train.count()
      (train, sp.oot)
    })
    val features = abt.toSeq.flatMap(_.schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
        !Set("dtYear", ChampionModel.labelCol).contains(f.name) => f.name
    })
    val (impute99, impute0) = features.partition(_.contains("Pos"))
    val model = split.flatMap { case (train, _) =>
      op("fit", "ml.ChampionModel", "step") {
        ChampionModel.fit(train, features, impute99, impute0)
      }
    }
    val scored = for (m <- model; (_, oot) <- split; s <- op("score", "ml.ChampionModel", "step") {
      val s = ChampionModel.score(m, oot).persist()
      s.count()
      ChampionModel.evaluate(s)
      s
    }) yield s
    scored.foreach { s =>
      op("top", "ml.Scoring", "step") {
        Scoring.topAtLastPeriod(s, "DriverId", "dtRef").collect()
      }
      keep("score", "f1_scored",
        s.select("DriverId", "dtRef", ChampionModel.labelCol, "prediction", "p_champ"))
    }
  }
}

/** The LLM-data DAG, cold: each call is a `SparkEntry` registry query,
  * fully collected, in the order given (`q <id>`). */
final class LlmCorpus(spark: SparkSession, tracer: Tracer, data: String,
                      out: String)
    extends Workload(spark, tracer, data, out) {

  def run(calls: Seq[Seq[String]]): Unit =
    calls.foreach { case Seq(_, id) =>
      op(id, LlmCorpus.layerOf(id), "timed") {
        val df = tracer.plan(graft.SparkEntry.queries(id)(spark, data))
        (df, df.collect())
      }.foreach { case (df, rows) => keepRows(id, id, df, rows) }
    }
}

object LlmCorpus {
  /** The layer each step of the DAG calls into. */
  def layerOf(id: String): String = id.take(1) match {
    case "c" | "t" => "operators.TextAnalysis"
    case "s" => "operators.Similarity"
    case "d" if id.contains("stream") => "operators.Dedup.tick"
    case "d" => "operators.Dedup"
  }
}

/** A warm interactive session: one untimed pass over the frozen
  * read-only registry queries (`warm <id>`), then timed passes in seeded
  * orders (`timed <id>`), each result fully collected. The last timed
  * result of every query is checked. */
final class QueryMix(spark: SparkSession, tracer: Tracer, data: String,
                     out: String)
    extends Workload(spark, tracer, data, out) {

  def run(calls: Seq[Seq[String]]): Unit = {
    val last = mutable.LinkedHashMap[String, (String, DataFrame, Array[Row])]()
    calls.zipWithIndex.foreach { case (Seq(phase, id), i) =>
      val opId = s"$id#$i"
      op(opId, s"mix.${QueryMix.moduleOf(id)}", phase) {
        val df = tracer.plan(graft.SparkEntry.queries(id)(spark, data))
        (df, df.collect())
      }.foreach { case (df, rows) => last(id) = (opId, df, rows) }
    }
    last.foreach { case (id, (opId, df, rows)) => keepRows(opId, id, df, rows) }
  }
}

object QueryMix {
  /** The registry modules a mix query may come from: those of the
    * `graft.queries` package that serve reads. */
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Relational" -> graft.queries.Relational.queries,
    "Events" -> graft.queries.Events.queries,
    "PointInTime" -> graft.queries.PointInTime.queries,
    "Profile" -> graft.queries.Profile.queries)

  def moduleOf(id: String): String =
    modules.collectFirst { case (m, qs) if qs.contains(id) => m }.getOrElse("other")
}
