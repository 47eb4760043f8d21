package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.etl.F1
import graft.sources.Csv

/** Offline modes behind `perfbench/freeze.py`: they produce the committed
  * references outputs are checked against, and never run during a
  * measurement. */
object Reference {

  /** The DuckDB oracle SQL of each given registry query. */
  def oracle(ids: Seq[String]): String =
    Json.obj(ids.map(id => id -> graft.SparkEntry.oracleSql(id)))

  /** The f1 store's reference content: the union of the per-date feature
    * slices, written flat to `<out>/expect_store`. */
  def f1Store(spark: SparkSession, repo: String, out: String,
              dates: Seq[String]): String = {
    val bronze = Csv.readBronze(spark, s"$repo/fixtures/f1_bronze/*.csv")
    dates.map(F1.featureStore(bronze, _)).reduce(_ unionByName _)
      .coalesce(1).write.parquet(s"$out/expect_store")
    Json.obj(Seq("dates" -> dates.size))
  }

  /** What the query_mix selection rule needs, per candidate query: its
    * module, whether it has a DuckDB oracle, the task bytes it wrote and
    * the streaming queries it started over a cold and a warm run in one
    * session, both times, and the error if it threw. The candidates are
    * every query of [[QueryMix.modules]]. */
  def classify(spark: SparkSession, data: String): String = {
    val ids = QueryMix.modules.flatMap(_._2.keys).sorted
    val sc = spark.sparkContext
    val written = new OutputListener
    sc.addSparkListener(written)
    // streaming queries may run in a session of their own, out of reach
    // of this session's StreamingQueryListener: count the query ids their
    // micro-batch jobs carry instead
    val streams = mutable.Set[String]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .foreach(id => streams.synchronized(streams += id))
    })
    def started = streams.synchronized(streams.size)
    def timed(id: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(id)(spark, data).collect()
      (System.nanoTime() - t0) / 1e6
    }
    Json.obj(ids.map { id =>
      org.apache.spark.PerfbenchBus.drain(sc)
      val (b0, s0) = (written.bytes, started)
      val r = scala.util.Try((timed(id), timed(id)))
      org.apache.spark.PerfbenchBus.drain(sc)
      id -> Json.Raw(Json.obj(Seq(
        "module" -> QueryMix.moduleOf(id),
        "oracle" -> graft.SparkEntry.oracleSql.contains(id),
        "output_bytes" -> (written.bytes - b0),
        "streams" -> (started - s0),
        "cold_ms" -> r.map(_._1).getOrElse(Double.NaN),
        "warm_ms" -> r.map(_._2).getOrElse(Double.NaN),
        "error" -> r.failed.map(_.toString.take(200)).getOrElse(null))))
    })
  }
}
