package perfbench

import graft.core.{Decision, JoinedDecision, Reward}
import graft.stream.DelayedJoin
import graft.stream.DelayedJoin.In
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** `prime`: a short pass through what the three workloads load (suite
  * queries, the ingest commits and reads, stream micro-batches), run once
  * per build by `run.py` so the JVM writes a class-data archive that every
  * benchmark JVM then maps instead of loading Spark's classes from jars.
  * Times and checks nothing; a part that throws is reported and skipped,
  * so the archive still holds the classes of the other parts.
  */
object Prime {
  val Queries = Seq("dp_counts", "etl_project_alias", "snapshot_dsv2_agg")

  private def part(name: String)(body: => Unit): Unit =
    try body catch { case e: Throwable =>
      System.err.println(s"[perfbench] prime $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  def run(spark: SparkSession, o: Opts): Unit = {
    spark.conf.set("spark.graft.cacheTables", "false")
    Queries.foreach(n => part(n) {
      graft.SparkEntry.queries(n)(spark, o.data).write.format("noop").mode("overwrite").save()
    })
    part("ingest") {
      val recs = IngestInputs.records(spark, o.seed, IngestSnapshot.WarmBatches)
      val table = new IngestSnapshot.Table(spark, o.work.resolve("prime"), NoTrace)
      IngestInputs.build(recs, o.seed, _ == 1).foreach { b =>
        val from = table.version
        val to = table.commit(b, evolve = b.index == 1, compact = b.index == 1)
        table.read(from, to, b.validIds.head)
      }
    }
    part("stream") {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val input = MemoryStream[In](spark.sparkContext.defaultParallelism)
      val query = DelayedJoin.joined(spark, input.toDS()).writeStream
        .option("checkpointLocation", o.work.resolve("prime-checkpoint").toString)
        .foreachBatch { (ds: Dataset[JoinedDecision], _: Long) =>
          JoinedDigest.byContext(ds.toDF()); ()
        }.start()
      try Seq(0L, 1000L, 60000L).foreach { t =>
        input.addData(In(Decision("k1", s"c$t", "a0", 0.5, t)), In(Reward("k1", 1.0, t + 10)))
        query.processAllAvailable()
      } finally query.stop()
    }
  }
}
