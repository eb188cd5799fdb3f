package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper, SerializationFeature}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Every string the benchmark emits goes through Jackson, so paths, query
  * names and error messages holding quotes, backslashes or control
  * characters stay valid JSON.
  */
object Json {
  private val mapper = new ObjectMapper()
  private val pretty = new ObjectMapper().enable(SerializationFeature.INDENT_OUTPUT)

  private def toJava(v: Any): AnyRef = v match {
    case null => null
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case d: Double if d.isNaN || d.isInfinite => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))
  def writePretty(v: Any): String = pretty.writeValueAsString(toJava(v))
  def read(s: String): JsonNode = mapper.readTree(s)

  def save(path: Path, v: Any): Unit = {
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.write(path, (writePretty(v) + "\n").getBytes(UTF_8))
  }
  def load(path: Path): JsonNode = read(new String(Files.readAllBytes(path), UTF_8))
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  /** Samples strictly above the `p`-th percentile. */
  def beyond(n: Int, p: Double): Int = math.floor(n * (1 - p / 100.0)).toInt
}

/** Largest heap occupancy right after a garbage collection, in MB: what
  * the program holds live (plus garbage the collector has not reached
  * yet), whatever size the collector chose for the heap. Counts from
  * [[Heap.watch]] on.
  */
object Heap {
  import com.sun.management.GarbageCollectionNotificationInfo
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)

  def watch(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
      _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))
  }

  def peakMb(): Double = peak.get / (1024.0 * 1024.0)
}

/** Memory at the end of a timed region, in MB: the live heap, and the
  * peak heap after any collection and peak resident set (VmHWM) so far.
  */
final case class Memory(liveHeapMb: Double, peakHeapMb: Double, rssMb: Double)

object Memory {
  /** Forces full collections (`System.gc`, stop-the-world under the
    * JVM's default collector) and reads the heap still in use: what the
    * program holds live. Spark frees broadcast and shuffle blocks on a
    * cleaner thread once a collection finds their handles unreachable, so
    * the collections repeat until the heap stops shrinking. The largest
    * occupancy after the collections a run happened to make also counts
    * garbage that sat in the old generation until a concurrent cycle ran,
    * so it moves with the collector's timing.
    */
  def now(): Memory = {
    val peak = Heap.peakMb()
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); bean.getHeapMemoryUsage.getUsed }
    var prev = Long.MaxValue
    var live = collect()
    var rounds = 1
    while (rounds < 10 && prev - live > (1L << 20)) {
      Thread.sleep(200)
      prev = live
      live = collect()
      rounds += 1
    }
    Memory(live / (1024.0 * 1024.0), peak, Rss.peakMb())
  }
}

/** Peak resident set of this JVM (VmHWM), in MB. */
object Rss {
  def peakMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
}
