package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.RingRegistry
import graft.streaming.{LocalCheckpointFileManager, NioCheckpointWrites, Streams}

/** A non-local filesystem for the delegation test: the local disk under
  * another scheme, which neither LocalFileSystem nor FileContext knows. */
class RemoteLikeFileSystem extends FilterFileSystem(new RawLocalFileSystem) {
  override def getScheme: String = "graftremote"
}

/** streaming.LocalCheckpointFileManager: local checkpoint writes through
  * java.nio, Spark's default for every other scheme. */
class CheckpointFileManagerSpec extends SparkTestBase {
  import spark.implicits._

  private def hadoopConf: Configuration = spark.sessionState.newHadoopConf()

  private def tempDir(prefix: String): Path =
    new Path(Files.createTempDirectory(prefix).toUri)

  private def write(m: CheckpointFileManager, p: Path, s: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: Path): Set[String] =
    Files.list(Paths.get(dir.toUri)).iterator.asScala
      .map(_.getFileName.toString).toSet

  test("the session conf routes Spark's CheckpointFileManager.create here") {
    val m = CheckpointFileManager.create(tempDir("cfm_wired_"), hadoopConf)
    assert(m.isInstanceOf[LocalCheckpointFileManager])
    assert(m.asInstanceOf[LocalCheckpointFileManager]
      .delegate.isInstanceOf[NioCheckpointWrites])
  }

  test("a stateful ring stream spawns no chmod/readlink process per batch") {
    // the ring_vwap shape: a graft-ring source into a 1-second event-time
    // window aggregate with a watermark, update mode, foreachBatch sink
    val schema = StructType(Seq(StructField("symbol", StringType),
      StructField("price", LongType), StructField("event_ms", LongType)))
    val ring = RingRegistry.create("cfm_jfr", schema, 1024, dropOldest = false)
    val ckpt = Files.createTempDirectory("cfm_jfr_").toString
    val jfr = Files.createTempFile("cfm_", ".jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    try {
      val q = Streams.ringStream(spark, "cfm_jfr")
        .withColumn("ts", timestamp_millis(col("event_ms")))
        .withWatermark("ts", "10 seconds")
        .groupBy(window(col("ts"), "1 second"), col("symbol"))
        .agg(sum(col("price")).as("p"), count(lit(1)).as("n"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch((df: DataFrame, _: Long) => { df.collect(); () })
        .start()
      try {
        rec.start()
        (0 until 3).foreach { b =>
          (0 until 200).foreach { i =>
            assert(ring.tryEnqueue(Row(s"s${i % 4}", i.toLong, b * 2000L + i)))
          }
          q.processAllAvailable()
        }
        rec.stop()
        assert(q.recentProgress.count(p =>
          p.numInputRows > 0 && p.stateOperators.nonEmpty) >= 3)
      } finally q.stop()
      rec.dump(jfr)
      val spawned = RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
      val fsSpawns = spawned.filter { c =>
        val exe = c.trim.split("\\s+").head
        exe.endsWith("chmod") || exe.endsWith("readlink")
      }
      assert(fsSpawns.size === 0, s"e.g. ${fsSpawns.take(3).mkString("; ")}")
    } finally {
      rec.close()
      Files.deleteIfExists(jfr)
      RingRegistry.remove("cfm_jfr")
    }
  }

  test("no-overwrite commit onto an existing file fails atomically") {
    val dir = tempDir("cfm_noover_")
    val p = new Path(dir, "0")
    val m = new LocalCheckpointFileManager(dir, hadoopConf)
    write(m, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(m, p, "second", overwrite = false)
    }
    assert(read(m, p) === "first")
    assert(names(dir) === Set("0"), "the losing writer's temp file is removed")
  }

  test("cancel leaves neither the temp file nor the final file") {
    val dir = tempDir("cfm_cancel_")
    val m = new LocalCheckpointFileManager(dir, hadoopConf)
    val out = m.createAtomic(new Path(dir, "1.delta"), overwriteIfPossible = true)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("overwriting a file written by Spark's default manager drops its checksum") {
    val dir = tempDir("cfm_crc_")
    val p = new Path(dir, "2.delta")
    write(new FileContextBasedCheckpointFileManager(dir, hadoopConf), p,
      "old bytes", overwrite = true)
    assert(names(dir) === Set("2.delta", ".2.delta.crc"))
    val m = new LocalCheckpointFileManager(dir, hadoopConf)
    write(m, p, "new, longer bytes", overwrite = true)
    assert(read(m, p) === "new, longer bytes")
    assert(names(dir) === Set("2.delta"))
  }

  test("a checkpoint begun under Spark's default manager resumes exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    val key = GraftSession.CheckpointManager._1
    val ckpt = Files.createTempDirectory("cfm_resume_").toString
    val input = MemoryStream[(Long, String)]
    val last = new AtomicReference[Set[(Long, String, Long, Long)]]()
    def start() = input.toDS().toDF("t", "k")
      .withColumn("ts", timestamp_seconds(col("t")))
      .groupBy(window(col("ts"), "10 seconds"), col("k"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("s"))
      .select(unix_seconds(col("window.start")), col("k"), col("n"), col("s"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: DataFrame, _: Long) => last.set(df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet))
      .start()
    def run(batches: Seq[(Long, String)]*): Unit = {
      val q = start()
      try batches.foreach { b => input.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    val rows = Seq(
      Seq((1L, "a"), (2L, "b"), (11L, "a")),
      Seq((3L, "a"), (12L, "b")),
      Seq((4L, "b"), (21L, "a")),
      Seq((13L, "a")))
    spark.conf.unset(key)
    try run(rows(0), rows(1))
    finally spark.conf.set(key, GraftSession.CheckpointManager._2)
    assert(Files.exists(Paths.get(ckpt, "offsets", ".1.crc")),
      "the first run wrote through Spark's default manager")
    // a crash after batch 1's state commit, before its commit log: the
    // next run replays batch 1 and overwrites its sidecar-carrying state
    // files; the run after that reads them back from disk
    Files.delete(Paths.get(ckpt, "commits", "1"))
    Files.delete(Paths.get(ckpt, "commits", ".1.crc"))
    run(rows(2))
    run(rows(3))
    assert(!Files.exists(Paths.get(ckpt, "offsets", ".3.crc")))
    val expected = rows.flatten.groupBy { case (t, k) => (t - t % 10, k) }
      .map { case ((w, k), rs) => (w, k, rs.size.toLong, rs.map(_._1).sum) }.toSet
    assert(last.get === expected)
  }

  test("a non-local scheme gets Spark's default manager") {
    val conf = hadoopConf
    conf.set("fs.graftremote.impl", classOf[RemoteLikeFileSystem].getName)
    conf.setBoolean("fs.graftremote.impl.disable.cache", true)
    val p = new Path("graftremote:///tmp/cfm_remote")
    val m = new LocalCheckpointFileManager(p, conf)
    val default = new Configuration(conf)
    default.unset(LocalCheckpointFileManager.ConfKey)
    // no FileContext for the scheme: Spark falls back to FileSystem
    assert(m.delegate.getClass === classOf[FileSystemBasedCheckpointFileManager])
    assert(m.delegate.getClass ===
      CheckpointFileManager.create(p, default).getClass)
    assert(!m.delegate.isInstanceOf[NioCheckpointWrites])
  }
}
