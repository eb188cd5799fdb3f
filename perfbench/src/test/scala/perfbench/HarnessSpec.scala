package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("a data path holding quotes, backslashes and control characters round-trips") {
    val path = "/data/sf\"0.01\\x\ty\n\u0001"
    val line = Json.write(Map("data" -> path, "metrics" -> Map("m" -> Map("value" -> 1.5))))
    assert(!line.contains("\n"))
    assert(Json.read(line).get("data").asText == path)
    assert(Json.read(line).get("metrics").get("m").get("value").asDouble == 1.5)
  }

  test("one ingest seed gives byte-identical batches, another seed different ones") {
    val a = IngestInputs.generate(spark, 7L, 6)
    val b = IngestInputs.generate(spark, 7L, 6)
    val c = IngestInputs.generate(spark, 8L, 6)
    assert(IngestInputs.fingerprint(a) == IngestInputs.fingerprint(b))
    assert(IngestInputs.fingerprint(a) != IngestInputs.fingerprint(c))
    // every invalid row carries exactly one planted defect; a malformed
    // document counts as missing every required field
    a.foreach { bt =>
      val corrupt = bt.rows.count(_._2.startsWith("#corrupt#"))
      val single = bt.planted.values.sum - corrupt * IngestInputs.contract.required.size
      assert(bt.rows.size - bt.validIds.size == corrupt + single)
    }
  }

  test("one stream seed gives an identical schedule, another seed a different one") {
    val a = StreamInputs.generate(7L, 100, 5, 10000)
    val b = StreamInputs.generate(7L, 100, 5, 10000)
    val c = StreamInputs.generate(8L, 100, 5, 10000)
    assert(StreamInputs.fingerprint(a) == StreamInputs.fingerprint(b))
    assert(StreamInputs.fingerprint(a) != StreamInputs.fingerprint(c))
    assert(a.count(_.decision) == 500)
    assert(a.map(_.atMs) == a.map(_.atMs).sorted)
  }

  test("a decision's joined-row digest ignores row order and catches duplicates") {
    import spark.implicits._
    val rows = Seq(
      graft.core.JoinedDecision("k1", "c1", "a", 0.5, 1.0, 10L, Some(3L)),
      graft.core.JoinedDecision("k1", "c1", "a", 0.5, 2.0, 10L, Some(7L)),
      graft.core.JoinedDecision("k2", "c2", "b", 0.1, 0.0, 20L, None))
    val d = JoinedDigest.byContext(rows.toDF())
    assert(d == JoinedDigest.byContext(rows.reverse.toDF()))
    assert(d("c1").rows == 2 && d("c2").rows == 1)
    assert(JoinedDigest.byContext((rows :+ rows.head).toDF())("c1") != d("c1"))
    assert(JoinedDigest.byContext(rows.updated(1, rows(1).copy(reward = 2.5)).toDF())("c1") != d("c1"))
  }

  test("the suite sample keeps every module") {
    val modules = Map("a1" -> "m1", "a2" -> "m1", "b1" -> "m2", "c1" -> "sql")
    assert(SuiteCold.sample(modules.keys.toSeq.sorted, modules).map(modules).toSet ==
      modules.values.toSet)
  }
}
