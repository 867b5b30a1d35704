package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, CommitLog, CommitMetadata, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.{NioCheckpointFileManager, NioLocalFileSystem}

/** A commit log whose run passed the log's exists check before another run
  * committed the same batch: it goes straight to the atomic write.
  */
class LateCommitLog(spark: SparkSession, path: String) extends CommitLog(spark, path) {
  def commitLate(batchId: Long): Unit =
    write(batchIdToPath(batchId), out => serialize(CommitMetadata(), out))
}

/** Fork-free local file commits: the checkpoint file manager and the local
  * Hadoop filesystem the engine registers as session defaults.
  *
  * Which classes a session resolves is decided when its context is built,
  * so this suite owns its sessions (like TaskRetrySpec) and hands the JVM
  * back with no active session; later suites recreate the default one.
  */
class LocalFilesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  /** Stop whatever session is active and build a fresh one. */
  private def fresh(b: SparkSession.Builder): SparkSession = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    b.getOrCreate()
  }

  private def graftSession(): SparkSession =
    fresh(GraftSession.builder("graft-localfiles", cores = "4").master("local[4]"))

  override def beforeAll(): Unit = spark = graftSession()

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def hadoopConf(s: SparkSession): Configuration =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  private def manager(dir: String): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir), hadoopConf(spark))

  private def write(fm: CheckpointFileManager, p: Path, overwrite: Boolean,
                    text: String) = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(text.getBytes("UTF-8"))
    out
  }

  private def read(p: String): String = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("fresh sessions from GraftSession.builder and GraftConfig.sessionBuilder resolve graft's local file classes") {
    def check(s: SparkSession, what: String): Unit = {
      assert(FileSystem.getFileSystemClass("file", s.sparkContext.hadoopConfiguration) ==
        classOf[NioLocalFileSystem], s"$what: file: filesystem")
      val fm = CheckpointFileManager.create(new Path(tmp("lf_resolve")), hadoopConf(s))
      assert(fm.getClass == classOf[NioCheckpointFileManager], s"$what: checkpoint manager")
      assert(fm.isLocal)
    }
    check(graftSession(), "GraftSession.builder")
    check(fresh(GraftConfig.sessionBuilder(Map("cores" -> "2", "app_name" -> "graft-lf-cfg"))),
      "GraftConfig.sessionBuilder")
    // a session built elsewhere gets the checkpoint manager from prepare
    // (a runtime SQL conf); its Hadoop conf keeps Hadoop's file: class
    val plain = GraftSession.prepare(fresh(SparkSession.builder().master("local[2]")
      .appName("graft-lf-plain").config("spark.ui.enabled", "false")))
    assert(CheckpointFileManager.create(new Path(tmp("lf_plain")), hadoopConf(plain)).getClass ==
      classOf[NioCheckpointFileManager])
    spark = graftSession()
  }

  test("checkpoint commit without overwrite: a second writer of one file is refused, the first file intact") {
    val dir = tmp("lf_race")
    val p = new Path(dir, "0")
    // two runs of one checkpoint race the same batch file: both pass the
    // log's exists check and open their temp files before either commits
    val first = write(manager(dir), p, overwrite = false, "winner")
    val second = write(manager(dir), p, overwrite = false, "the losing run")
    first.close()
    intercept[FileAlreadyExistsException](second.close())
    assert(read(s"$dir/0") == "winner")
    assert(new java.io.File(dir).list().toSet == Set("0"), "a refused commit left its temp file")

    // through Spark's metadata log: the run that lost the race gets the
    // log's concurrent-update error, caused by that same refusal
    val logDir = tmp("lf_race_log")
    assert(new CommitLog(spark, logDir).add(0L, CommitMetadata()))
    val before = read(s"$logDir/0")
    val e = intercept[Exception](new LateCommitLog(spark, logDir).commitLate(0L))
    assert(e.getCause.isInstanceOf[FileAlreadyExistsException], e)
    assert(read(s"$logDir/0") == before)
    assert(new java.io.File(logDir).list().toSet == Set("0"))
  }

  test("checkpoint commit with overwrite: replaces the file and drops a stale .crc sidecar") {
    val dir = tmp("lf_overwrite")
    val p = new Path(dir, "1.delta")
    // a file written through Hadoop's checksummed local filesystem, as
    // Spark's default manager leaves state-store deltas
    val lfs = FileSystem.getLocal(hadoopConf(spark))
    val o = lfs.create(p)
    o.write("old bytes".getBytes("UTF-8")); o.close()
    assert(Files.exists(Paths.get(dir, ".1.delta.crc")))
    write(manager(dir), p, overwrite = true, "new bytes, longer than the old").close()
    assert(!Files.exists(Paths.get(dir, ".1.delta.crc")), "the stale sidecar survived the overwrite")
    assert(read(s"$dir/1.delta") == "new bytes, longer than the old")
    // a checksummed read (what the state store's reader does) sees the new bytes
    val in = lfs.open(p)
    val got = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(got == "new bytes, longer than the old")
    assert(new java.io.File(dir).list().toSet == Set("1.delta"))
  }

  test("a stream checkpointed under Spark's default manager restarts under graft's, exactly once") {
    val session = spark
    import session.implicits._
    implicit val sq = session.sqlContext
    val root = tmp("lf_restart")
    val table = new graft.storage.TxLogTable(spark, s"$root/points")
    val in = MemoryStream[(String, Long, Double)]
    val points = in.toDF().toDF("device_id", "ts_us", "num")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val cp = tmp("lf_restart_cp")
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    def start() = graft.streaming.StreamingIngest.startAppendSink(points, table,
      appId = "lf-restart", checkpoint = cp, trigger = Trigger.ProcessingTime(0))
    val commits = new java.io.File(s"$cp/commits")
    def run(body: org.apache.spark.sql.streaming.StreamingQuery => Unit): Unit = {
      val q = start()
      try body(q) finally q.stop()
    }

    // phase 1: Spark's default manager writes the logs with .crc sidecars
    spark.conf.set(key, classOf[FileContextBasedCheckpointFileManager].getName)
    try run { q =>
      in.addData(("d1", 1L, 1.0)); q.processAllAvailable()
      in.addData(("d2", 2L, 2.0)); q.processAllAvailable()
    } finally GraftSession.prepare(spark)
    assert(commits.list().toSet.contains(".1.crc"), commits.list().toSeq)
    assert(table.version.contains(1L))

    // replay: batch 1's commit marker goes, its sidecar stays behind — the
    // restart re-runs batch 1 and commits its marker under graft's manager
    assert(new java.io.File(commits, "1").delete())
    run { q =>
      q.processAllAvailable()
      in.addData(("d3", 3L, 3.0)); q.processAllAvailable()
    }
    assert(new java.io.File(commits, "1").exists(), "the restart did not re-run batch 1")
    assert(!new java.io.File(commits, ".1.crc").exists(), "the stale sidecar survived the re-commit")
    assert(!new java.io.File(commits, ".2.crc").exists(), "graft's manager wrote a sidecar")
    // a further restart reads the mixed logs (checksummed where a sidecar
    // remains) and has nothing left to run
    run(_.processAllAvailable())
    assert(table.version.contains(2L), s"a replayed batch committed again: ${table.version}")
    assert(table.read().select("num").as[Double].collect().sorted.toSeq == Seq(1.0, 2.0, 3.0))
  }

  test("local filesystem: Spark's files and dirs get Hadoop's modes; a sticky mode takes Hadoop's path") {
    val conf = spark.sparkContext.hadoopConfiguration
    // the JVM's cached file: filesystem is graft's (created by a graft session)
    assert(FileSystem.get(new URI("file:///"), conf).isInstanceOf[NioLocalFileSystem])
    val umask = FsPermission.getUMask(conf)
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt
    val out = tmp("lf_modes") + "/t"
    spark.range(100).withColumn("k", col("id") % 3).repartition(2)
      .write.partitionBy("k").parquet(out)
    val all = Files.walk(Paths.get(out)).toArray.map(_.asInstanceOf[java.nio.file.Path])
    assert(all.count(_.getFileName.toString.endsWith(".parquet")) >= 3)
    all.foreach { p =>
      val want = if (Files.isDirectory(p)) dirMode else fileMode
      assert(mode(p) == want, f"$p: mode ${mode(p)}%o, Hadoop's default $want%o")
    }

    // explicit modes land exactly as through Hadoop's own class
    val ours = new NioLocalFileSystem
    ours.initialize(new URI("file:///"), conf)
    val hadoops = new LocalFileSystem
    hadoops.initialize(new URI("file:///"), conf)
    val dir = tmp("lf_explicit")
    Seq(0x180, 0x1c0, 0x1a4, 0x1ed).foreach { m => // 0600, 0700, 0644, 0755
      def made(fs: FileSystem, name: String): Int = {
        val p = new Path(dir, f"$name-$m%o")
        fs.create(p, new FsPermission(m.toShort), false, 4096, 1.toShort, 1L << 20, null).close()
        mode(Paths.get(p.toUri.getPath))
      }
      assert(made(ours, "nio") == made(hadoops, "hadoop"), f"mode $m%o")
      assert(made(ours, "nio2") == (m & ~umask.toShort), f"mode $m%o")
    }
    // java.nio has no sticky bit: the mode goes through Hadoop's chmod
    val sticky = new Path(dir, "sticky")
    assert(ours.mkdirs(sticky))
    ours.setPermission(sticky, new FsPermission(0x3ff.toShort)) // 01777
    assert(mode(Paths.get(sticky.toUri.getPath)) == 0x3ff)
  }
}
