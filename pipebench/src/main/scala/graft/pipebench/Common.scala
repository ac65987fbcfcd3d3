package graft.pipebench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.tables.GraftTable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What every workload gets: the session, its own fresh directory, the
  * seed, the window length, the volume and the trace.
  */
final case class Ctx(spark: SparkSession, work: String, seed: Long, seconds: Int,
    cores: Int, tiny: Boolean, trace: Trace, meter: SparkMeter) {
  def dir(name: String): String = {
    val p = java.nio.file.Paths.get(work, name)
    graft.FsUtil.deleteRecursively(p)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }
}

/** A workload's outcome. `e2e` and `layers` map metric name → (value, unit). */
final case class Outcome(attempted: Long, failed: Long, checks: Seq[(String, Boolean)],
    e2e: Map[String, (Double, String)], layers: Map[String, (Double, String)],
    notes: Seq[String])

object Stats {
  /** Percentile by linear interpolation between the closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = h.toInt
    if (lo + 1 >= s.size) s(lo) else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** Spark's public listener data: jobs, tasks and their metrics, summed
  * since the session started. Read as deltas around a window.
  */
final class SparkMeter extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val runMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    ()
  }

  /** Host CPU time stolen by other guests (ms), from /proc/stat. */
  def stealMs: Long = {
    val cpu = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
    if (cpu.length > 8) cpu(8).toLong * 10 else 0L
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Counters sampled at span boundaries. */
  def counters(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "tasks" -> tasks.get,
    "cas_retries" -> GraftTable.commitRetryCount.get,
    "footer_probes" -> GraftTable.footerProbeCount.get)

  def snap(): MeterSnap = MeterSnap(jobs.get, tasks.get, cpuNs.get, runMs.get, shuffleRead.get,
    shuffleWrite.get, spill.get, gcMs, GraftTable.commitRetryCount.get,
    GraftTable.footerProbeCount.get, stealMs, System.nanoTime())

  /** The `spark.*` per-layer metrics between two snapshots. */
  def sparkLayer(a: MeterSnap, b: MeterSnap, cores: Int): Map[String, (Double, String)] = {
    val wall = (b.wallNs - a.wallNs) / 1e9
    Map(
      "spark.executor_cpu_s" -> ((b.cpuNs - a.cpuNs) / 1e9, "s"),
      "spark.core_util" -> ((b.runMs - a.runMs) / 1e3 / (wall * cores), "ratio"),
      "spark.shuffle_read_bytes" -> ((b.shuffleRead - a.shuffleRead).toDouble, "B"),
      "spark.shuffle_write_bytes" -> ((b.shuffleWrite - a.shuffleWrite).toDouble, "B"),
      "spark.spill_bytes" -> ((b.spill - a.spill).toDouble, "B"),
      "spark.tasks" -> ((b.tasks - a.tasks).toDouble, "count"),
      "spark.gc_s" -> ((b.gcMs - a.gcMs) / 1e3, "s"),
      "host.steal_s" -> ((b.stealMs - a.stealMs) / 1e3, "s"))
  }
}

/** The meter's and the table layer's counters at one instant. */
final case class MeterSnap(jobs: Long, tasks: Long, cpuNs: Long, runMs: Long, shuffleRead: Long,
    shuffleWrite: Long, spill: Long, gcMs: Long, casRetries: Long, footerProbes: Long,
    stealMs: Long, wallNs: Long)

/** Order-independent result checksums: row count, the wrapping sum of a
  * 64-bit hash of every row's exact columns, and per floating column the
  * plain sum (compared with a relative tolerance, since a distributed
  * float sum depends on summation order).
  */
final case class Checksum(rows: Long, hash: Long, floats: Seq[Double]) {
  def matches(o: Checksum): Boolean =
    rows == o.rows && hash == o.hash && floats.size == o.floats.size &&
      floats.zip(o.floats).forall { case (a, b) =>
        a == b || math.abs(a - b) <= 1e-6 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
      }
  def render: String = s"$rows:${java.lang.Long.toHexString(hash)}:" +
    floats.map(f => f"$f%.9e").mkString(",")
}

object Checksum {
  def parse(s: String): Checksum = {
    val parts = s.split(":", -1)
    Checksum(parts(0).toLong, java.lang.Long.parseUnsignedLong(parts(1), 16),
      if (parts(2).isEmpty) Nil else parts(2).split(",").map(_.toDouble).toSeq)
  }

  private def isFloat(t: DataType) = t == DoubleType || t == FloatType

  /** Exact columns hashed (maps and float-bearing nests go through their
    * JSON text), floating columns summed.
    */
  def of(df: DataFrame): Checksum = {
    val fields = df.schema.fields.sortBy(_.name)
    val exact = fields.filterNot(f => isFloat(f.dataType)).map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val floats = fields.filter(f => isFloat(f.dataType)).map(f => col(f.name).cast("double"))
    val h = if (exact.isEmpty) lit(0L) else xxhash64(exact.toIndexedSeq: _*)
    val aggs = Seq(count(lit(1)), coalesce(sum(h.cast("decimal(38,0)")), lit(0))) ++
      floats.map(c => coalesce(sum(c), lit(0.0)))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val wrapped = r.getDecimal(1).toBigInteger.longValue() // sum mod 2^64
    Checksum(r.getLong(0), wrapped, floats.indices.map(i => r.getDouble(2 + i)))
  }
}
