package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM; run.py builds and launches it.
  *
  *   --mode run       one workload in closed loop, raw records to --out
  *   --mode derive    digests of live results and of a graft.Verify dump
  *   --mode selftest  digest and concurrent-attribution checks
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts(args)
    o("mode") match {
      case "run" => Workload.run(o)
      case "derive" => Derive.run(o)
      case "selftest" => SelfTest.run(o)
      case m => sys.error(s"unknown --mode $m")
    }
  }
}

final case class Opts(m: Map[String, String]) {
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def list(k: String): Seq[String] = apply(k).split(",").toSeq.filter(_.nonEmpty)
}

object Opts {
  def apply(args: Array[String]): Opts = {
    require(args.length % 2 == 0, s"expected --key value pairs: ${args.mkString(" ")}")
    Opts(args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
  }
}

object Session {
  /** The entry point users embed, sized to the machine: one task slot and
    * one shuffle partition per core. Spark's scratch space and warehouse
    * stay under the benchmark's work directory.
    */
  def build(cores: Int, work: Path): SparkSession = {
    val s = graft.GraftSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** The operators stage derived inputs under fixed `/tmp/graft_*` roots
  * (immutable `by/<digest>` targets plus a `current` link). The benchmark
  * keeps every file it writes inside its checkout, so before the first
  * query it points each such root at a directory under `root`. The roots
  * are static final strings, hence the write through Unsafe; it runs
  * before any reader, so no compiled code has folded the old value.
  */
object Stage {
  private val Modules = Seq("Relational", "Aggregates", "EventOps", "Joins", "Windows",
    "Lakehouse", "TextOps", "VectorOps", "GraphOps").map("graft.operators." + _) :+
    "graft.streaming.StatefulOps"

  private lazy val unsafe = {
    val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    f.setAccessible(true)
    f.get(null).asInstanceOf[sun.misc.Unsafe]
  }

  /** Redirect every `/tmp/graft_*` root; returns the roots moved. */
  def redirect(root: Path): Seq[String] =
    for {
      m <- Modules
      cls = Class.forName(m + "$")
      f <- cls.getDeclaredFields.toSeq
      if java.lang.reflect.Modifier.isStatic(f.getModifiers) && f.getType == classOf[String]
      old <- { f.setAccessible(true); Option(f.get(null).asInstanceOf[String]) }
      if old.startsWith("/tmp/graft_")
    } yield {
      val to = root.resolve(old.stripPrefix("/tmp/")).toString
      unsafe.putObject(unsafe.staticFieldBase(f), unsafe.staticFieldOffset(f), to)
      s"$old -> $to"
    }

  /** Number of staged `by/<digest>` directories under `root`. */
  def digestDirs(root: Path): Int = {
    def children(p: Path): Seq[Path] =
      if (!Files.isDirectory(p)) Nil
      else {
        val s = Files.list(p)
        try s.iterator().asScala.toList finally s.close()
      }
    children(root).map(r => children(r.resolve("by")).size).sum
  }
}

/** Largest heap in use right after a collection, over every collection
  * between construction and `stop()`: heap the engine still held, as
  * opposed to the fixed heap the JVM reserved.
  */
final class HeapWatch {
  private val peakB = new java.util.concurrent.atomic.AtomicLong
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener: NotificationListener = (n: Notification, _: Any) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peakB.accumulateAndGet(used, math.max(_, _))
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def stop(): Unit = emitters.foreach(_.removeNotificationListener(listener))
  def peak: Long = peakB.get
}

object Proc {
  /** Peak resident set of this JVM in kB (VmHWM), or -1 off Linux. */
  def peakRssKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: java.io.IOException => -1L }

  /** Seconds since this JVM started (includes its boot and class loading). */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}
