package graft.sources.v2

import java.util
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Custom DataSource V2 streaming source — the Structured-Streaming twin of
  * the reference's REST poller (SURVEY §2.1 S1: extract.py polls N cities
  * per run). Usage:
  *
  *   spark.readStream
  *     .format("graft.sources.v2.PollingSource")
  *     .option("cities", "London,Tokyo")        // endpoints to poll
  *     .option("rowsPerBatch", "5")             // observations per poll
  *     .load()
  *
  * Each micro-batch ("poll") emits one observation per city with an
  * event-time timestamp derived from the offset — a DETERMINISTIC synthetic
  * payload standing in for the HTTP GET (zero-egress environment; swap
  * `ObservationGen.generate` for the real transport). What this class
  * demonstrates is the real connector surface: TableProvider →
  * SupportsRead → MicroBatchStream with monotonically increasing offsets,
  * planInputPartitions splitting each poll across `cities` partitions
  * (reads parallelize per endpoint), and exactly-once restart semantics
  * driven entirely by the checkpointed offset range.
  */
class PollingSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PollingSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new PollingTable(new CaseInsensitiveStringMap(properties))
}

object PollingSource {
  val schema: StructType = StructType(Seq(
    StructField("poll_id", LongType, nullable = false),
    StructField("city", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("temperature", DoubleType, nullable = false)))

  /** Deterministic fake observation — the transport stub. */
  object ObservationGen {
    private val epochStartMicros = 1704067200L * 1000000L // 2024-01-01 UTC
    def tempFor(pollId: Long, city: String): Double = {
      val h = city.hashCode.toLong * 31 + pollId
      ((h % 400) + 400) % 400 / 10.0 - 10.0 // [-10, 30) °C, deterministic
    }
    def tsMicrosFor(pollId: Long): Long = epochStartMicros + pollId * 60000000L
  }
}

private class PollingTable(options: CaseInsensitiveStringMap)
  extends Table with SupportsRead {
  override def name(): String = "graft_polling_source"
  override def schema(): StructType = PollingSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new util.HashMap[String, String](options)
    merged.putAll(opts)
    () => new PollingScan(new CaseInsensitiveStringMap(merged))
  }
}

private case class PollOffset(pollId: Long) extends Offset {
  override def json(): String = pollId.toString
}

private class PollingScan(options: CaseInsensitiveStringMap) extends Scan {
  private val cities: Array[String] =
    options.getOrDefault("cities", "New York,London,Tokyo,Sydney,Berlin").split(",").map(_.trim)
  private val rowsPerBatch: Int = options.getInt("rowsPerBatch", 1)
  // Optional cap on total polls: a finite stream (processAllAvailable and
  // Trigger.AvailableNow drain it); <=0 means unbounded like a live feed.
  private val maxPolls: Long = options.getLong("maxPolls", -1L)

  override def readSchema(): StructType = PollingSource.schema
  override def toBatch: Batch = throw new UnsupportedOperationException(
    "polling source is streaming-only; batch parity = RestSource.toDataFrame")

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new MicroBatchStream {
      // High-water mark = furthest offset PLANNED (not committed): the
      // engine only calls source.commit(N) while constructing batch N+1,
      // so gating availability on commit() deadlocks after one batch
      // (no new data -> no next batch -> no commit -> no new data).
      //
      // The mark is persisted under the source's own checkpoint dir and
      // recovered on construction: on restart the engine may call
      // latestOffset() BEFORE handing us any checkpointed offset, and a
      // fresh mark of 0 would move the query backward (observed: replayed
      // polls). This is exactly what the checkpointLocation argument is
      // for; real connectors derive latestOffset from the external system,
      // which is monotonic across restarts for the same reason.
      private val fm = org.apache.spark.sql.execution.streaming.checkpointing
        .CheckpointFileManager.create(new org.apache.hadoop.fs.Path(checkpointLocation),
          org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
      private val hwPath = new org.apache.hadoop.fs.Path(checkpointLocation, "graft-highwater")
      fm.mkdirs(hwPath.getParent)
      @volatile private var highWater: Long =
        if (fm.exists(hwPath)) {
          val in = fm.open(hwPath)
          try in.readLong() finally in.close()
        } else 0L
      private def bump(o: Long): Unit = synchronized {
        if (o > highWater) {
          highWater = o
          // atomic replace (the checkpoint WALs' own primitive): a crash
          // mid-write must not leave a truncated file that breaks every
          // future restart, nor a window where no file exists
          val out = fm.createAtomic(hwPath, overwriteIfPossible = true)
          try { out.writeLong(o); out.close() }
          catch { case e: Throwable => out.cancel(); throw e }
        }
      }
      override def initialOffset(): Offset = PollOffset(0L)
      override def latestOffset(): Offset = {
        val next = highWater + rowsPerBatch
        PollOffset(if (maxPolls > 0) math.min(next, maxPolls) else next)
      }
      override def deserializeOffset(json: String): Offset = {
        val o = json.toLong
        bump(o)
        PollOffset(o)
      }
      override def commit(end: Offset): Unit = ()
      override def stop(): Unit = ()

      override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
        val s = start.asInstanceOf[PollOffset].pollId
        val e = end.asInstanceOf[PollOffset].pollId
        bump(e)
        // one partition per city — endpoint polls parallelize across tasks
        cities.map(c => PollPartition(c, s, e): InputPartition)
      }
      override def createReaderFactory(): PartitionReaderFactory =
        (partition: InputPartition) => new PollReader(partition.asInstanceOf[PollPartition])
    }
}

private case class PollPartition(city: String, from: Long, until: Long) extends InputPartition

private class PollReader(p: PollPartition) extends PartitionReader[InternalRow] {
  import PollingSource.ObservationGen._
  private var cur = p.from - 1
  override def next(): Boolean = { cur += 1; cur < p.until }
  override def get(): InternalRow =
    InternalRow(cur, UTF8String.fromString(p.city), tsMicrosFor(cur), tempFor(cur, p.city))
  override def close(): Unit = ()
}
