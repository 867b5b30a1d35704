package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.storage.TxLogTable

class TxLogTableSpec extends SparkSuite {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("txlog").toString + "/t"

  // the listener bus is async (and private[spark]): poll the observed
  // counter until it stops moving, same pattern as the expiry job-count pin
  private def awaitStable(read: () => Long): Long = {
    var last = -1L; var stable = 0
    val deadline = System.nanoTime() + 10000000000L
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val c = read()
      if (c == last) stable += 1 else { stable = 0; last = c }
    }
    read()
  }

  test("append accumulates; read sees the latest snapshot") {
    val t = new TxLogTable(spark, tmp())
    t.append(Seq((1L, "a")).toDF("k", "v"))
    t.append(Seq((2L, "b")).toDF("k", "v"))
    assert(t.version.contains(1L))
    assert(t.read().as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("removeDirs drops whole data dirs as O(1) metadata; history survives") {
    val t = new TxLogTable(spark, tmp())
    t.append(Seq((1L, "a")).toDF("k", "v"))
    t.append(Seq((2L, "b")).toDF("k", "v"))
    val dirs = t.dirPaths(t.version.get)
    assert(dirs.size == 2)
    t.removeDirs(Set(dirs.head))
    assert(t.read().as[(Long, String)].collect().toSeq == Seq((2L, "b")))
    // the pre-drop snapshot stays time-travel-readable
    assert(t.readVersion(1L).count() == 2)
    // unknown dirs are loud
    assert(intercept[IllegalArgumentException](
      t.removeDirs(Set(dirs.head + "_nope"))).getMessage.contains("not data dirs"))
    // removing the LAST dir leaves an empty, schema-preserving snapshot
    t.removeDirs(t.dirPaths(t.version.get).toSet)
    assert(t.read().count() == 0)
    assert(t.read().columns.toSeq == Seq("k", "v"))
    // the O(delta) append feed refuses ranges crossing the drop (rewrite)
    assert(intercept[IllegalStateException](t.appendsBetween(1L, 3L))
      .getMessage.contains("not appends"))
  }

  test("merge upserts by key; stale updates lose by order column") {
    val t = new TxLogTable(spark, tmp())
    t.append(Seq((1L, "old", 100L), (2L, "keep", 100L)).toDF("k", "v", "ts"))
    t.merge(Seq((1L, "new", 200L), (3L, "ins", 200L)).toDF("k", "v", "ts"),
      keys = Seq("k"), orderCol = Some("ts"))
    assert(t.read().as[(Long, String, Long)].collect().toSet ==
      Set((1L, "new", 200L), (2L, "keep", 100L), (3L, "ins", 200L)))
    // a STALE replay (smaller ts) must not regress the row
    t.merge(Seq((1L, "stale", 150L)).toDF("k", "v", "ts"),
      keys = Seq("k"), orderCol = Some("ts"))
    assert(t.read().filter(col("k") === 1L).as[(Long, String, Long)].collect().toSeq ==
      Seq((1L, "new", 200L)))
    // replaying the SAME batch is a no-op on content (exactly-once effect)
    val before = t.read().as[(Long, String, Long)].collect().toSet
    t.merge(Seq((1L, "new", 200L), (3L, "ins", 200L)).toDF("k", "v", "ts"),
      keys = Seq("k"), orderCol = Some("ts"))
    assert(t.read().as[(Long, String, Long)].collect().toSet == before)
  }

  test("change feed: upsert between versions shows as delete+insert") {
    val t = new TxLogTable(spark, tmp())
    t.overwrite(Seq((1L, "old", 100L), (2L, "same", 100L)).toDF("k", "v", "ts")) // v0
    t.merge(Seq((1L, "new", 200L), (3L, "ins", 200L)).toDF("k", "v", "ts"),
      Seq("k"), Some("ts")) // v1
    val cf = t.changes(0L, 1L)
      .select("k", "v", "_change_type").as[(Long, String, String)].collect().toSet
    assert(cf == Set(
      (1L, "old", "delete"), (1L, "new", "insert"), // upsert = delete+insert
      (3L, "ins", "insert")))                       // pure insert; unchanged k=2 absent
  }

  test("appendsBetween: O(delta) feed returns exactly the appended rows, rejects rewrites") {
    val t = new TxLogTable(spark, tmp())
    t.overwrite(Seq((1L, "a")).toDF("k", "v")) // v0
    t.append(Seq((2L, "b")).toDF("k", "v"))    // v1
    t.append(Seq((3L, "c")).toDF("k", "v"))    // v2
    assert(t.appendsBetween(0L, 2L).as[(Long, String)].collect().toSet ==
      Set((2L, "b"), (3L, "c")))
    assert(t.appendsBetween(1L, 2L).as[(Long, String)].collect().toSet == Set((3L, "c")))
    // a merge rewrites data dirs: the cheap feed must refuse, not mislead
    t.merge(Seq((1L, "a2")).toDF("k", "v"), Seq("k")) // v3
    val e = intercept[IllegalStateException](t.appendsBetween(0L, 3L))
    assert(e.getMessage.contains("not appends"))
  }

  test("incremental aggregate: append delta fold == from-scratch recompute") {
    import graft.storage.IncrementalAgg
    val t = new TxLogTable(spark, tmp())
    t.overwrite(Seq((1L, 10.5), (1L, 2.25), (2L, 7.0)).toDF("k", "v")) // v0
    val mv0 = IncrementalAgg.snapshot(t.read(), Seq("k"), "v")
    t.append(Seq((1L, 1.0), (3L, 4.5)).toDF("k", "v"))                 // v1
    val delta = t.appendsBetween(0L, 1L).withColumn("_change_type", lit("insert"))
    val got = IncrementalAgg.applyDelta(mv0, delta, Seq("k"), "v")
      .select(col("k"), col("cnt"), col("sum_v").cast("double"))
      .as[(Long, Long, Double)].collect().toSet
    val want = IncrementalAgg.snapshot(t.read(), Seq("k"), "v")
      .select(col("k"), col("cnt"), col("sum_v").cast("double"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want)
    assert(got == Set((1L, 3L, 13.75), (2L, 1L, 7.0), (3L, 1L, 4.5)))
  }

  test("incremental aggregate: delete/upsert deltas via the snapshot-diff change feed") {
    import graft.storage.IncrementalAgg
    val t = new TxLogTable(spark, tmp())
    t.overwrite(Seq((1L, 10.0, 100L), (2L, 7.0, 100L), (3L, 5.0, 100L)).toDF("k", "v", "ts")) // v0
    val mv0 = IncrementalAgg.snapshot(t.read(), Seq("k"), "v")
    // upsert key 1 (delete+insert in the feed), insert key 4
    t.merge(Seq((1L, 20.0, 200L), (4L, 1.0, 200L)).toDF("k", "v", "ts"),
      Seq("k"), Some("ts")) // v1
    val got = IncrementalAgg.applyDelta(mv0, t.changes(0L, 1L), Seq("k"), "v")
      .select(col("k"), col("cnt"), col("sum_v").cast("double"))
      .as[(Long, Long, Double)].collect().toSet
    val want = IncrementalAgg.snapshot(t.read(), Seq("k"), "v")
      .select(col("k"), col("cnt"), col("sum_v").cast("double"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want)
    assert(got.exists { case (k, _, s) => k == 1L && s == 20.0 })
  }

  test("time travel: every committed version stays readable until vacuum") {
    val t = new TxLogTable(spark, tmp())
    t.append(Seq((1L, "a")).toDF("k", "v"))
    t.overwrite(Seq((9L, "z")).toDF("k", "v"))
    assert(t.readVersion(0L).as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    assert(t.readVersion(1L).as[(Long, String)].collect().toSeq == Seq((9L, "z")))
  }

  test("compact folds small directories and preserves content") {
    val path = tmp()
    val t = new TxLogTable(spark, path)
    (0 until 5).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    val before = t.read().as[(Long, String)].collect().toSet
    val dirsBefore = new java.io.File(path).listFiles.count(_.getName.startsWith("d-"))
    t.compact()
    assert(t.read().as[(Long, String)].collect().toSet == before)
    // the new snapshot is a single folded directory...
    val vacuumed = t.vacuum(retainMillis = 0L) // ...and vacuum drops the five orphaned ones
    assert(vacuumed.size == dirsBefore)
    assert(new java.io.File(path).listFiles.count(_.getName.startsWith("d-")) == 1)
    assert(t.read().as[(Long, String)].collect().toSet == before)
  }

  test("compact with a size bound leaves large directories untouched") {
    val path = tmp()
    val t = new TxLogTable(spark, path)
    t.append(spark.range(0, 50000).select(col("id").as("k"), col("id").cast("string").as("v")))
    val bigDirs = new java.io.File(path).listFiles.filter(_.getName.startsWith("d-")).map(_.getName).toSet
    (0 until 3).foreach(i => t.append(Seq((-i.toLong, "small")).toDF("k", "v")))
    t.compact(maxBytes = 100 * 1024) // folds only the three tiny commits
    t.vacuum(retainMillis = 0L)
    val after = new java.io.File(path).listFiles.filter(_.getName.startsWith("d-")).map(_.getName).toSet
    assert(bigDirs.subsetOf(after), "large directory must be carried over, not rewritten")
    assert(after.size == bigDirs.size + 1)
    assert(t.read().count() == 50003)
  }

  test("stale snapshot cannot commit: interleaved writer raises CommitConflict, no lost update") {
    val path = tmp()
    val a = new TxLogTable(spark, path)
    a.append(Seq((1L, "a")).toDF("k", "v")) // v0
    // writer B commits v1 while writer A is (conceptually) mid-operation
    val b = new TxLogTable(spark, path)
    b.append(Seq((2L, "b")).toDF("k", "v")) // v1
    // A's snapshot was read at v0, so its commit lands on v1 — taken -> conflict.
    // Reproduce A's interleaving exactly: dirs listed at v0, then commit(base=v0).
    intercept[TxLogTable.CommitConflict] {
      TxLogTable.writeCommitFile(
        java.nio.file.Paths.get(path, "_txlog"), 1L,
        TxLogTable.renderEntry(TxLogTable.LogEntry(1L, "append", Seq("d-stale"))))
    }
    // B's committed data is intact — the stale writer could NOT publish a
    // snapshot that silently dropped it
    assert(b.read().as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("concurrent appends: every append that reported success is in the final snapshot") {
    val path = tmp()
    new TxLogTable(spark, path).append(Seq((0L, "base")).toDF("k", "v"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val attempts = (1 to 4).map { i =>
      Future(scala.util.Try {
        new TxLogTable(spark, path).append(Seq((i.toLong, s"v$i")).toDF("k", "v")); i.toLong
      })
    }
    val outcomes = Await.result(Future.sequence(attempts), 120.seconds)
    val succeeded = outcomes.collect { case scala.util.Success(i) => i }.toSet
    outcomes.collect { case scala.util.Failure(e) => e }.foreach { e =>
      assert(e.isInstanceOf[TxLogTable.CommitConflict], s"unexpected failure: $e")
    }
    val finalKeys = new TxLogTable(spark, path).read()
      .as[(Long, String)].collect().map(_._1).toSet
    // the no-lost-update invariant: a writer that returned success is never
    // silently dropped by a concurrent commit (losers must CONFLICT instead)
    assert((succeeded + 0L).subsetOf(finalKeys), s"lost updates: ${(succeeded + 0L) -- finalKeys}")
  }

  test("concurrent commit on the same version: exactly one winner") {
    val logDir = java.nio.file.Files.createTempDirectory("txlog_race")
    // two writers race version 1: the first rename wins...
    TxLogTable.writeCommitFile(logDir, 1L, """{"version":1,"op":"append","dirs":[]}""")
    // ...the second hits the no-replace rename and must surface the conflict
    intercept[TxLogTable.CommitConflict] {
      TxLogTable.writeCommitFile(logDir, 1L, """{"version":1,"op":"append","dirs":["d-x"]}""")
    }
    // the winner's entry is untouched and no temp litter remains
    val files = new java.io.File(logDir.toString).listFiles.map(_.getName).toSet
    assert(files == Set("1.json"))
    assert(TxLogTable.parseEntry(
      new String(java.nio.file.Files.readAllBytes(logDir.resolve("1.json")), "UTF-8")).dirs.isEmpty)
  }

  test("retryOnConflict: retries only commit conflicts, bounded, other errors propagate") {
    var calls = 0
    val out = TxLogTable.retryOnConflict(maxAttempts = 5) {
      calls += 1
      if (calls < 3) throw new TxLogTable.CommitConflict("lost the race")
      42
    }
    assert(out == 42 && calls == 3)
    // exhausted attempts surface the conflict
    intercept[TxLogTable.CommitConflict] {
      TxLogTable.retryOnConflict(maxAttempts = 2) {
        throw new TxLogTable.CommitConflict("always")
      }
    }
    // non-conflict failures are NOT retried
    var once = 0
    intercept[IllegalArgumentException] {
      TxLogTable.retryOnConflict(maxAttempts = 5) { once += 1; throw new IllegalArgumentException("no") }
    }
    assert(once == 1)
  }

  test("data-dir name collision fails loudly instead of clobbering committed data") {
    val t = new TxLogTable(spark, tmp())
    t.writeDataDir(Seq((1L, "live")).toDF("k", "v"), name = "d-fixed")
    // a second write landing on the same name must ERROR (error-if-exists),
    // never silently overwrite the live directory
    intercept[Exception] {
      t.writeDataDir(Seq((2L, "clobber")).toDF("k", "v"), name = "d-fixed")
    }
  }

  test("vacuum skips young unreferenced dirs (in-flight writer grace window)") {
    val path = tmp()
    val t = new TxLogTable(spark, path)
    t.append(Seq((1L, "a")).toDF("k", "v")) // v0, referenced
    // an in-flight writer has materialized its data dir but not committed yet
    val inflight = t.writeDataDir(Seq((2L, "pending")).toDF("k", "v"))
    // default grace window: the fresh unreferenced dir survives vacuum...
    assert(t.vacuum() == Seq.empty)
    assert(new java.io.File(path, inflight).isDirectory)
    // ...so the writer can still win its commit and the snapshot stays whole
    // (with retention 0 — caller asserts no writer is in flight — it goes)
    assert(t.vacuum(retainMillis = 0L) == Seq(inflight))
    assert(!new java.io.File(path, inflight).exists)
    assert(t.read().as[(Long, String)].collect().toSet == Set((1L, "a")))
  }

  test("expireOlderThan: whole-dir drops are pure metadata, straddlers rewrite") {
    val path = tmp()
    val t = new TxLogTable(spark, path)
    // three append dirs: wholly-old, straddling, wholly-new
    t.append(Seq((10L, "old1"), (20L, "old2")).toDF("ts", "v"))
    t.append(Seq((90L, "mid-old"), (110L, "mid-new")).toDF("ts", "v"))
    t.append(Seq((200L, "new1"), (210L, "new2")).toDF("ts", "v"))
    val dirsBefore = t.dirPaths(t.version.get).toSet
    val v = t.expireOlderThan("ts", 100L)
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((110L, "mid-new"), (200L, "new1"), (210L, "new2")))
    val dirsAfter = t.dirPaths(v).toSet
    // the wholly-new dir carried over UNTOUCHED (same physical dir), the
    // wholly-old dir vanished from the snapshot, the straddler was replaced
    assert(dirsAfter.intersect(dirsBefore).size == 1, "exactly the wholly-new dir survives")
    assert(dirsAfter.size == 2, "kept dir + one rewritten boundary dir")
    // pre-expiry version still time-travels until vacuum
    assert(t.readVersion(2L).count() == 6)
    // vacuum (grace 0: no writer in flight) reclaims the dropped dirs
    val removed = t.vacuum(retainMillis = 0L)
    assert(removed.nonEmpty)
    assert(t.read().count() == 3)
    // nothing expired -> same version, no empty commit
    assert(t.expireOlderThan("ts", 50L) == v)
    // expiry is a rewrite: an append-only feed crossing it must refuse
    t.append(Seq((300L, "post")).toDF("ts", "v"))
    val e = intercept[IllegalStateException] { t.appendsBetween(2L, v + 1) }
    assert(e.getMessage.contains("not appends"))
  }

  test("expireOlderThan: null timestamps have no age and survive") {
    val t = new TxLogTable(spark, tmp())
    t.append(Seq((Some(10L), "a"), (None, "ageless")).toDF("ts", "v"))
    t.append(Seq((Some(150L), "b")).toDF("ts", "v"))
    t.expireOlderThan("ts", 100L)
    assert(t.read().as[(Option[Long], String)].collect().toSet ==
      Set((None, "ageless"), (Some(150L), "b")))
  }

  test("expireOlderThan: classification is one job, not one per directory") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // r5 'weak' fix: the [min,max] classification must be a single union
    // scan grouped by parent dir — O(dirs) sequential driver jobs do not
    // survive a 100x commit history. Pin: the number of Spark jobs a
    // keep-only expiry launches is IDENTICAL for a 2-dir and a 10-dir
    // table (job count independent of directory count).
    def jobsFor(nDirs: Int): Int = {
      val t = new TxLogTable(spark, tmp())
      (0 until nDirs).foreach { i =>
        t.append(Seq((200L + i, s"v$i")).toDF("ts", "v"))
      }
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val v = t.expireOlderThan("ts", 100L) // everything keeps: no commit
        assert(v == t.version.get)
        // listener bus is async: wait until the count is stable
        var last = -1; var stable = 0
        val deadline = System.nanoTime() + 10000000000L
        while (stable < 3 && System.nanoTime() < deadline) {
          Thread.sleep(100)
          val c = n.get()
          if (c == last) stable += 1 else { stable = 0; last = c }
        }
        n.get()
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val few = jobsFor(2)
    val many = jobsFor(10)
    assert(many == few, s"expiry job count grew with dir count: $few -> $many")
  }

  test("appendClustered: one commit, many narrow range slices, same read semantics") {
    val path = tmp()
    val t = new TxLogTable(spark, path)
    val df = spark.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("v"))
    val v = t.appendClustered(df, "k", nDirs = 4)
    assert(v == 0L && t.opOf(0L) == "append")
    val dirs = t.dirPaths(0L)
    assert(dirs.size == 4, s"expected 4 range slices, got ${dirs.size}")
    assert(t.read().count() == 1000)
    assert(t.read().columns.toSeq == Seq("k", "v"), "slice column must not leak")
    // slices are contiguous, non-overlapping key ranges: every dir's
    // [min, max] is disjoint from every other's
    val stats = t.dirColStats("k", t.version.map(vv => t.dirPaths(vv)).get
      .map(_.split('/').last), t.schemaOf(t.version.get))
    val ranges = stats.values.map(s => (s.min.get, s.max.get)).toSeq.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 < lo2, s"overlapping slices: $ranges")
      case _ => ()
    }
    // schema drift refuses, fence replays skip — same contract as append
    assert(intercept[IllegalArgumentException](
      t.appendClustered(Seq((1L, "x")).toDF("k", "v"), "k", 2))
      .getMessage.contains("does not match table"))
    t.appendClustered(df.filter(col("k") < 10), "k", 2, txn = Some(("bulk", 1L)))
    val replay = t.appendClustered(df.filter(col("k") < 10), "k", 2, txn = Some(("bulk", 1L)))
    assert(replay == t.version.get && t.read().count() == 1010)
    // an empty clustered append still commits a readable snapshot
    val t2 = new TxLogTable(spark, tmp())
    t2.appendClustered(df.filter(lit(false)), "k", 4)
    assert(t2.read().count() == 0 && t2.read().columns.toSeq == Seq("k", "v"))
  }

  test("readKeysIn prunes to the directories holding the keys") {
    val path = tmp()
    val t = new TxLogTable(spark, path)
    val df = spark.range(0, 1000).select(col("id").as("k"), (col("id") * 3).as("v"))
    t.appendClustered(df, "k", nDirs = 10)
    val allFiles = t.read().inputFiles.toSet
    // a single key reads one slice's files, and every matching row is there
    val one = t.readKeysIn("k", Seq(137L))
    assert(one.inputFiles.toSet.subsetOf(allFiles) &&
      one.inputFiles.length < allFiles.size,
      s"no pruning: ${one.inputFiles.length} of ${allFiles.size} files read")
    assert(one.filter(col("k") === 137L).count() == 1)
    // the result is a SUPERSET restricted to hit dirs: composing with the
    // equi-filter gives exactly the keyed rows
    val keys = Seq(5L, 6L, 995L) // two dirs at the ends, none in between
    val got = t.readKeysIn("k", keys).filter(col("k").isin(keys: _*))
    assert(got.count() == 3 &&
      t.readKeysIn("k", keys).inputFiles.length < allFiles.size)
    // keys outside every dir's range read nothing but keep the schema
    val none = t.readKeysIn("k", Seq(50000L))
    assert(none.count() == 0 && none.columns.toSeq == Seq("k", "v"))
    // after a clustered append (an index fold), new dirs' stats join the
    // pruning and their keys resolve
    t.appendClustered(
      spark.range(2000, 2100).select(col("id").as("k"), (col("id") * 3).as("v")),
      "k", nDirs = 2)
    val folded = t.readKeysIn("k", Seq(2050L))
    assert(folded.filter(col("k") === 2050L).count() == 1)
    assert(folded.inputFiles.length < t.read().inputFiles.length)
  }

  test("clustered tables refuse plain append; rangeCol must be long-castable") {
    import spark.implicits._
    val t = new TxLogTable(spark, tmp())
    val df = spark.range(0, 100).select(col("id").as("k"), col("id").as("v"))
    t.appendClustered(df, "k", nDirs = 4)
    assert(t.clusteredOn.contains("k"))
    // a plain append between granular merges could smear a duplicate key
    // across two carried directories where it survives silently — refuse
    val e = intercept[IllegalStateException](t.append(df.limit(1)))
    assert(e.getMessage.contains("range-clustered"))
    // the supported evolution paths stay open
    t.merge(Seq((5L, 999L)).toDF("k", "v"), Seq("k"), rangeCol = Some("k"))
    assert(t.read().filter(col("k") === 5L).select("v").as[Long].head() == 999L)
    t.overwrite(df)
    assert(t.read().count() == 100)
    // a granular merge alone also marks the table (no appendClustered)
    val t2 = new TxLogTable(spark, tmp())
    t2.merge(df, Seq("k"))
    assert(t2.clusteredOn.isEmpty)
    t2.merge(Seq((1L, 7L)).toDF("k", "v"), Seq("k"), rangeCol = Some("k"))
    assert(t2.clusteredOn.contains("k"))
    assert(intercept[IllegalStateException](t2.append(df.limit(1)))
      .getMessage.contains("merge-maintained"))
    // the marker travels with backup/restore
    val dest = tmp() + "/snap"
    t2.exportSnapshot(dest)
    val t3 = new TxLogTable(spark, tmp())
    t3.importSnapshot(dest)
    assert(t3.clusteredOn.contains("k"))
    assert(intercept[IllegalStateException](t3.append(df.limit(1)))
      .getMessage.contains("range-clustered"))
    // a string range key would cast to null in both the dir stats and the
    // update probe — NO dir ever classifies hit and duplicates survive;
    // fail fast at the call instead of relying on the scaladoc
    val ts = new TxLogTable(spark, tmp())
    val sdf = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    assert(intercept[IllegalArgumentException](
      ts.appendClustered(sdf, "k", 2)).getMessage.contains("long-castable"))
    ts.merge(sdf, Seq("k"))
    assert(intercept[IllegalArgumentException](
      ts.merge(sdf, Seq("k"), rangeCol = Some("k")))
      .getMessage.contains("long-castable"))
  }

  test("granular merge: untouched directories carry as metadata, byte-identical") {
    val path = tmp()
    val t = new TxLogTable(spark, path)
    t.appendClustered(
      spark.range(0, 900).select(col("id").as("k"), col("id").as("v")), "k", 3) // v0
    val before = t.dirPaths(0L)
    assert(before.size == 3)
    def bytesOf(dir: String): Map[String, Long] = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try w.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      finally w.close()
    }
    val untouchedBytes = before.map(d => d -> bytesOf(d)).toMap
    // warm the stats sidecars (the one-time per-dir cost, amortized out of
    // steady state) so the listener below measures only the merge itself
    t.colRange("k")
    // updates touch only the middle slice's key range (300..599)
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val rowsRead = new java.util.concurrent.atomic.AtomicLong
    val l = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          rowsRead.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    val v1 = try {
      val v = t.merge(Seq((400L, -1L), (450L, -2L)).toDF("k", "v"),
        keys = Seq("k"), rangeCol = Some("k"))
      awaitStable(() => rowsRead.get())
      v
    } finally spark.sparkContext.removeSparkListener(l)
    assert(v1 == 1L)
    val after = t.dirPaths(1L).toSet
    // the two untouched slices are THE SAME directories, bytes untouched
    val carried = before.filter(after.contains)
    assert(carried.size == 2, s"expected 2 carried dirs, got $carried")
    carried.foreach(d => assert(bytesOf(d) == untouchedBytes(d), s"carried dir $d changed"))
    // carried without read: total rows read covers the overlapped slice +
    // the updates (+ the stats probe of the updates), far below the table
    assert(rowsRead.get() < 600, s"granular merge read ${rowsRead.get()} rows — " +
      "carried dirs must not be scanned")
    // content is the full-merge answer
    assert(t.read().filter(col("k") === 400L).select("v").as[Long].head() == -1L)
    assert(t.read().count() == 900)
    assert(t.read().filter(col("v") < 0).count() == 2)
    // keys OUTSIDE every dir range insert cleanly too
    t.merge(Seq((5000L, 7L)).toDF("k", "v"), Seq("k"), None, Some("k"))
    assert(t.read().count() == 901)
    // a batch touching both ENDS of the key space must not rewrite the
    // middle: exact containment, not [min,max] envelope overlap
    val beforeEnds = t.dirPaths(t.version.get)
    t.merge(Seq((0L, -10L), (899L, -11L)).toDF("k", "v"), Seq("k"), None, Some("k"))
    val afterEnds = t.dirPaths(t.version.get).toSet
    assert(beforeEnds.count(afterEnds.contains) >= 2,
      "middle slice dragged into an ends-only rewrite")
    assert(t.read().count() == 901)
    // rangeCol must be a key
    assert(intercept[IllegalArgumentException](
      t.merge(Seq((1L, 1L)).toDF("k", "v"), Seq("k"), None, Some("v")))
      .getMessage.contains("must be one of the merge keys"))
  }

  test("granular merge: null range keys stay conservative; orderCol ties hold") {
    val t = new TxLogTable(spark, tmp())
    t.append(Seq((Some(1L), "a", 100L), (None, "nk", 100L)).toDF("k", "v", "ts"))
    t.append(Seq((Some(50L), "b", 100L)).toDF("k", "v", "ts"))
    // a null update key must reach the null-holding dir (range stats can't
    // see nulls), or the committed null row would silently survive a merge
    // that should have replaced it
    t.merge(Seq((Option.empty[Long], "nk2", 200L)).toDF("k", "v", "ts"),
      Seq("k"), Some("ts"), Some("k"))
    val got = t.read().as[(Option[Long], String, Long)].collect().toSet
    assert(got == Set((Some(1L), "a", 100L), (None, "nk2", 200L), (Some(50L), "b", 100L)), got)
    // stale updates still lose by orderCol on the granular path
    t.merge(Seq((Option.empty[Long], "stale", 150L)).toDF("k", "v", "ts"),
      Seq("k"), Some("ts"), Some("k"))
    assert(t.read().filter(col("k").isNull).select("v").as[String].head() == "nk2")
  }

  test("colRange and stats sidecars: computed once per dir, then pure file reads") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val path = tmp()
    val t = new TxLogTable(spark, path)
    t.append(Seq((10L, "a"), (20L, "b")).toDF("ts", "v"))
    t.append(Seq((90L, "c")).toDF("ts", "v"))
    assert(t.colRange("ts").contains((10L, 90L)))
    // second call: all dirs cached -> ZERO Spark jobs
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      assert(t.colRange("ts").contains((10L, 90L)))
      awaitStable(() => n.get().toLong)
      assert(n.get() == 0, s"cached colRange launched ${n.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(l)
    // sidecars exist under _stats and round-trip
    val stats = java.nio.file.Paths.get(path, "_stats")
    assert(java.nio.file.Files.list(stats).count() == 2)
    val s = TxLogTable.DirColStats(5L, 4L, Some(-3L), Some(9L))
    assert(TxLogTable.parseDirStats(TxLogTable.renderDirStats(s)) == s)
    assert(TxLogTable.parseDirStats("""{"rows":0,"nonnull":0}""") ==
      TxLogTable.DirColStats(0L, 0L, None, None))
    // vacuum reclaims sidecars of vacuumed dirs
    t.compact()
    t.vacuum(retainMillis = 0L)
    t.colRange("ts") // recompute for the folded dir
    val names = java.nio.file.Files.list(stats).toArray.map(_.toString).toSeq
    assert(names.size == 1, s"stale sidecars survived vacuum: $names")
  }

  test("append rejects schema drift instead of silently corrupting reads") {
    val t = new TxLogTable(spark, tmp())
    t.append(Seq((1L, "a")).toDF("ts", "v"))
    // renamed column
    val e1 = intercept[IllegalArgumentException](
      t.append(Seq((2L, "b")).toDF("ts", "w")))
    assert(e1.getMessage.contains("does not match table"))
    // changed type
    val e2 = intercept[IllegalArgumentException](
      t.append(Seq((3L, 4.0)).toDF("ts", "v")))
    assert(e2.getMessage.contains("does not match table"))
    // extra column
    val e3 = intercept[IllegalArgumentException](
      t.append(Seq((4L, "c", 1)).toDF("ts", "v", "extra")))
    assert(e3.getMessage.contains("does not match table"))
    // identical schema in a different column order is the SAME schema
    t.append(Seq(("d", 5L)).toDF("v", "ts").select("ts", "v"))
    assert(t.read().count() == 2)
    // overwrite() is the declared evolution path
    t.overwrite(Seq((6L, "e", true)).toDF("ts", "v", "flag"))
    assert(t.read().columns.toSeq == Seq("ts", "v", "flag"))
  }

  test("log entry roundtrip") {
    val e = TxLogTable.LogEntry(7L, "merge", Seq("d-aa", "d-bb"))
    assert(TxLogTable.parseEntry(TxLogTable.renderEntry(e)) == e)
    val t = TxLogTable.LogEntry(9L, "append", Seq("d-cc"), Some(("sink-a", 41L)))
    assert(TxLogTable.parseEntry(TxLogTable.renderEntry(t)) == t)
  }

  test("log entry roundtrip with a recorded schema; the log regexes never see it") {
    import org.apache.spark.sql.types._
    // field names that would derail the hand-rolled regexes if the schema
    // rode the entry as raw JSON
    val schema = StructType(Seq(
      StructField("dirs", ArrayType(StringType)),
      StructField("txn", MapType(StringType, LongType)),
      StructField("version", StructType(Seq(StructField("op", DoubleType))))))
    val e = TxLogTable.LogEntry(5L, "append", Seq("d-aa"), Some(("app", 3L)), Some(schema))
    assert(TxLogTable.parseEntry(TxLogTable.renderEntry(e)) == e)
  }

  // the schema a version's entry RECORDS (not the inference fallback)
  private def recorded(path: String, v: Long) = TxLogTable.parseEntry(new String(
    Files.readAllBytes(java.nio.file.Paths.get(path, "_txlog", s"$v.json")), "UTF-8")).schema

  test("every commit op records the schema the parquet reader infers for its snapshot") {
    val wide = Seq(
      (1L, "a", 1.5, true, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        Seq(1L, 2L), Map("x" -> 1.0), (7, "s")),
      (2L, "b", 2.5, false, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"),
        Seq(3L), Map("y" -> 2.0), (8, "t")),
      (3L, null, 3.5, true, null, Nil, Map.empty[String, Double], (9, null))
    ).toDF("k", "s", "d", "b", "ts", "arr", "m", "st")
    def rowsFrom(lo: Long) = wide.withColumn("k", col("k") + lo)
    def check(t: TxLogTable, path: String, op: String): Unit = {
      val v = t.version.get
      assert(t.opOf(v) == op)
      val got = recorded(path, v)
      assert(got.isDefined, s"$op left no schema in its entry")
      val inferred = spark.read.parquet(t.dirPaths(v): _*).schema
      assert(got.get == inferred, s"$op recorded ${got.get.simpleString}, reader infers ${inferred.simpleString}")
      assert(t.read().schema == inferred)
    }
    val p = tmp()
    val t = new TxLogTable(spark, p)
    t.append(rowsFrom(0)); check(t, p, "append")
    t.append(rowsFrom(10)); check(t, p, "append")
    t.merge(rowsFrom(10).withColumn("s", lit("upd")), keys = Seq("k")); check(t, p, "merge")
    t.append(rowsFrom(20)); t.append(rowsFrom(30))
    t.delete(col("k") === 21L); check(t, p, "delete")
    t.append(rowsFrom(40)); t.append(rowsFrom(50))
    t.expireOlderThan("k", 42L); check(t, p, "expire")
    t.append(rowsFrom(60))
    t.compact(); check(t, p, "compact")
    t.append(rowsFrom(70))
    t.removeDirs(Set(t.dirPaths(t.version.get).last)); check(t, p, "dropshard")
    t.removeDirs(t.dirPaths(t.version.get).toSet); check(t, p, "dropshard")
    t.overwrite(rowsFrom(80)); check(t, p, "overwrite")
    t.optimizeZOrder(col("k"), col("st._1"), bits = 8, nFiles = 2); check(t, p, "optimize")

    val pc = tmp()
    val c = new TxLogTable(spark, pc)
    c.appendClustered(rowsFrom(0).unionByName(rowsFrom(100)), "k", nDirs = 2)
    check(c, pc, "append")
    // granular: one slice overlaps the update keys and rewrites, one carries
    c.merge(rowsFrom(100).withColumn("d", lit(9.5)), keys = Seq("k"), rangeCol = Some("k"))
    check(c, pc, "merge")
    assert(c.read().filter(col("k") === 101L).select("d").as[Double].collect().toSeq == Seq(9.5))
  }

  test("read() and append() launch no schema-inference job on a recorded-schema table") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val t = new TxLogTable(spark, tmp())
    (0 until 3).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    val n = new java.util.concurrent.atomic.AtomicLong
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    def jobs(body: => Unit): Long = {
      awaitStable(() => n.get())
      val before = n.get()
      body
      awaitStable(() => n.get()) - before
    }
    spark.sparkContext.addSparkListener(l)
    try {
      assert(jobs(t.read()) == 0L, "building the snapshot frame must not run a job")
      // an append runs exactly the jobs of writing its frame, nothing more
      val batch = Seq((9L, "v9")).toDF("k", "v")
      val bare = jobs(batch.write.parquet(tmp()))
      assert(jobs(t.append(batch)) == bare, "append ran a job beyond its write")
    } finally spark.sparkContext.removeSparkListener(l)
    assert(t.read().count() == 4)
  }

  test("a legacy log entry without a schema still reads, and the next commit records one") {
    val p = tmp()
    val t = new TxLogTable(spark, p)
    t.append(Seq((1L, "a")).toDF("k", "v"))
    // rewrite version 0 the way a log written before schemas looked
    val f = java.nio.file.Paths.get(p, "_txlog", "0.json")
    val e = TxLogTable.parseEntry(new String(Files.readAllBytes(f), "UTF-8"))
    Files.write(f, TxLogTable.renderEntry(e.copy(schema = None)).getBytes("UTF-8"))
    assert(recorded(p, 0L).isEmpty)
    assert(t.read().as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    assert(t.schemaOf(0L) == spark.read.parquet(t.dirPaths(0L): _*).schema)
    // the drift check still works against the inferred schema
    intercept[IllegalArgumentException](t.append(Seq((2L, 2.0)).toDF("k", "v")))
    t.append(Seq((2L, "b")).toDF("k", "v"))
    assert(recorded(p, 1L).contains(t.schemaOf(0L)))
    assert(t.read().count() == 2)
  }

  test("snapshot export/import keeps the recorded schema") {
    val p = tmp()
    val t = new TxLogTable(spark, p)
    t.append(Seq((1L, "a", Seq(1.0))).toDF("k", "v", "xs"))
    t.append(Seq((2L, "b", Seq(2.0))).toDF("k", "v", "xs"))
    val snap = Files.createTempDirectory("txlog_snap").resolve("s").toString
    val v = t.exportSnapshot(snap)
    val rp = tmp()
    val r = new TxLogTable(spark, rp)
    assert(r.importSnapshot(snap) == v)
    assert(recorded(rp, v).isDefined && recorded(rp, v) == recorded(p, v))
    assert(r.read().count() == 2)
  }

  test("a lost commit race re-runs only the commit: concurrent appends all land, no data rewritten") {
    val p = tmp()
    new TxLogTable(spark, p).append(Seq((0L, "base")).toDF("k", "v"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val n = 8
    val appends = (1 to n).map { i =>
      Future(new TxLogTable(spark, p).append(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    }
    val versions = Await.result(Future.sequence(appends), 120.seconds)
    // every append succeeded, each at its own version
    assert(versions.toSet == (1L to n.toLong).toSet, s"versions: $versions")
    val t = new TxLogTable(spark, p)
    assert(t.read().as[(Long, String)].collect().map(_._1).sorted.toSeq == (0L to n.toLong))
    // a retried Spark write would leave an orphan data dir behind
    val onDisk = new java.io.File(p).listFiles.count(_.getName.startsWith("d-"))
    assert(onDisk == n + 1, s"$onDisk data dirs on disk for ${n + 1} appends")
  }

  test("appendIfAt commits only on the version it read; a refused CAS leaves no dir") {
    val p = tmp()
    val t = new TxLogTable(spark, p)
    def dirs = new java.io.File(p).listFiles.count(_.getName.startsWith("d-"))
    assert(t.appendIfAt(Seq((1L, "a")).toDF("k", "v"), None)) // v0
    assert(!t.appendIfAt(Seq((2L, "b")).toDF("k", "v"), None), "a stale first-commit CAS landed")
    val at = t.version
    // a fence-less commit (a DROP's delete) moves the version: a CAS
    // derived from the old version must not land on top of it
    t.delete(col("k") === 1L) // v1
    val before = dirs
    assert(!t.appendIfAt(Seq((2L, "b")).toDF("k", "v"), at))
    assert(dirs == before, "a refused CAS left its data dir behind")
    assert(t.appendIfAt(Seq((3L, "c")).toDF("k", "v"), t.version)) // v2
    assert(t.version.contains(2L) && t.read().as[(Long, String)].collect().toSeq == Seq((3L, "c")))
    assert(dirs == before + 1)
  }

  test("txn fence: replayed append is a no-op, fence state is queryable") {
    val t = new TxLogTable(spark, tmp())
    t.append(Seq((1L, "a")).toDF("k", "v"), txn = Some(("sink", 0L))) // v0
    t.append(Seq((2L, "b")).toDF("k", "v"), txn = Some(("sink", 1L))) // v1
    assert(t.version.contains(1L) && t.txnHighWatermark("sink").contains(1L))
    // an at-least-once REPLAY of batch 1 must not double-append
    val v = t.append(Seq((2L, "b")).toDF("k", "v"), txn = Some(("sink", 1L)))
    assert(v == 1L && t.version.contains(1L))
    assert(t.read().count() == 2L)
    // the fence is per-app: another writer's sequence space is independent
    t.append(Seq((3L, "c")).toDF("k", "v"), txn = Some(("other", 0L))) // v2
    assert(t.version.contains(2L))
    assert(t.txnHighWatermark("other").contains(0L) && t.txnHighWatermark("sink").contains(1L))
    // un-fenced appends still work alongside
    t.append(Seq((4L, "d")).toDF("k", "v"))
    assert(t.read().count() == 4L)
  }

  test("delete drops matching rows, keeps history, and fences the append feed") {
    val t = new TxLogTable(spark, tmp())
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))       // v0
    t.append(Seq((4L, "d")).toDF("k", "v"))                             // v1
    val v = t.delete(col("k") % 2 === 0)                                // v2
    assert(v == 2L)
    assert(t.read().as[(Long, String)].collect().toSet == Set((1L, "a"), (3L, "c")))
    // pre-delete versions stay readable (time travel)
    assert(t.readVersion(1L).count() == 4L)
    // a NULL predicate result means "not matched": the row survives
    val t2 = new TxLogTable(spark, tmp())
    t2.append(Seq((1L, Some(10L)), (2L, None)).toDF("k", "n"))
    t2.delete(col("n") > 5L) // null > 5 is null, not true
    assert(t2.read().as[(Long, Option[Long])].collect().toSet == Set((2L, None)))
    // the O(delta) append feed refuses ranges crossing the rewrite
    t.append(Seq((5L, "e")).toDF("k", "v"))                             // v3
    val e = intercept[IllegalStateException](t.appendsBetween(1L, 3L))
    assert(e.getMessage.contains("not appends"))
    // the snapshot-diff change feed shows the deletion
    val ch = t.changes(1L, 2L).select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(ch == Set((2L, "delete"), (4L, "delete")))
  }

  test("txn checkpoints bound the fence lookup and survive checkpoint loss") {
    val path = tmp()
    val t = new TxLogTable(spark, path)
    // enough fenced commits to cross two checkpoint boundaries (interval 10)
    (0L until 25L).foreach { i =>
      val app = if (i % 3 == 0) "sink-a" else "sink-b"
      t.append(Seq((i, s"r$i")).toDF("k", "v"), txn = Some((app, i)))
    }
    val logDir = java.nio.file.Paths.get(path, "_txlog")
    val ckpts = java.nio.file.Files.list(logDir).toArray.map(_.toString)
      .filter(_.endsWith(".ckpt.json")).sorted.toSeq
    assert(ckpts.map(_.split('/').last) == Seq("10.ckpt.json", "20.ckpt.json"))
    // watermarks resolve through checkpoint + suffix
    assert(t.txnHighWatermark("sink-a").contains(24L))
    assert(t.txnHighWatermark("sink-b").contains(23L))
    assert(t.txnHighWatermark("nobody").isEmpty)
    // a replay below the checkpointed watermark is still fenced
    val v = t.append(Seq((3L, "replay")).toDF("k", "v"), txn = Some(("sink-a", 3L)))
    assert(v == 24L && t.read().count() == 25L)
    // checkpoints are an optimization, not the source of truth: deleting
    // them must not change any answer (full-suffix fallback)
    ckpts.foreach(c => java.nio.file.Files.delete(java.nio.file.Paths.get(c)))
    assert(t.txnHighWatermark("sink-a").contains(24L))
    assert(t.txnHighWatermark("sink-b").contains(23L))
    // checkpoint roundtrip
    val m = Map("a" -> 3L, "b" -> 41L)
    assert(TxLogTable.parseTxnCheckpoint(TxLogTable.renderTxnCheckpoint(20L, m)) == m)
  }

  test("backup/restore: snapshot export, byte-equal restore, fence + corruption refusals") {
    val path = tmp()
    val t = new TxLogTable(spark, path)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    t.append(Seq((3L, "c")).toDF("k", "v"))
    t.delete(col("k") === 2L)
    val want = t.read().as[(Long, String)].collect().toSet
    val wantVersion = t.version.get

    // export the latest version; the backup is self-contained
    val bak = Files.createTempDirectory("txbak").toString + "/snap"
    assert(t.exportSnapshot(bak) == wantVersion)
    assert(Files.isRegularFile(java.nio.file.Paths.get(s"$bak/manifest.json")))
    // a second export into the same non-empty destination refuses
    assert(intercept[IllegalArgumentException](t.exportSnapshot(bak))
      .getMessage.contains("not empty"))

    // restore onto a LIVE table refuses: the fence names both versions
    val fence = intercept[IllegalStateException](t.importSnapshot(bak))
    assert(fence.getMessage.contains("fence conflict") &&
      fence.getMessage.contains(s"version $wantVersion"), fence.getMessage)

    // drop the table entirely (the corrupt/lost-disk scenario), restore,
    // and reads come back byte-equal at the snapshot's own version
    def deleteTree(p: String): Unit = {
      val w = Files.walk(java.nio.file.Paths.get(p))
      try w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally w.close()
    }
    deleteTree(path)
    val restored = new TxLogTable(spark, path)
    assert(restored.importSnapshot(bak) == wantVersion)
    assert(restored.version.contains(wantVersion))
    assert(restored.read().as[(Long, String)].collect().toSet == want)
    assert(restored.opOf(wantVersion) == "restore")
    // the restored table is live: appends continue past the snapshot
    restored.append(Seq((9L, "z")).toDF("k", "v"))
    assert(restored.read().count() == want.size + 1)

    // a vacuumed source does not rot the backup (hard links hold bytes):
    // export survives deleting the source tree outright
    val t2path = tmp()
    val t2 = new TxLogTable(spark, t2path)
    t2.append(Seq((7L, "q")).toDF("k", "v"))
    val bak2 = Files.createTempDirectory("txbak2").toString + "/snap"
    t2.exportSnapshot(bak2)
    deleteTree(t2path)
    val t2r = new TxLogTable(spark, t2path)
    t2r.importSnapshot(bak2)
    assert(t2r.read().as[(Long, String)].collect().toSeq == Seq((7L, "q")))

    // a truncated backup file refuses BEFORE anything lands
    val bak3 = Files.createTempDirectory("txbak3").toString + "/snap"
    t2r.exportSnapshot(bak3)
    val victim = {
      val w = Files.walk(java.nio.file.Paths.get(bak3))
      try w.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).head
      finally w.close()
    }
    Files.write(victim, Array[Byte](1, 2, 3))
    deleteTree(t2path)
    val t2bad = new TxLogTable(spark, t2path)
    assert(intercept[IllegalArgumentException](t2bad.importSnapshot(bak3))
      .getMessage.contains("corrupt backup"))
    assert(t2bad.version.isEmpty, "a refused restore must not half-commit")
  }

  test("seeded maintenance net: granular merges + expiry + compaction equal the full-merge model") {
    // round 15 added the granular writers (appendClustered, merge(rangeCol),
    // export/import); this net draws random interleavings of ALL the
    // maintenance verbs against (a) a full-merge shadow table and (b) an
    // in-memory map — the granular carry classification, the dual-end
    // batch hazard (a batch touching both ends of the key space must not
    // corrupt, however it classifies), expiry interleaved between folds,
    // compaction widening directory ranges, and a snapshot export cut at a
    // random step restoring exactly its pinned version.
    val diffScale = sys.env.getOrElse("GRAFT_DIFF_SCALE", "1").toInt.max(1)
    for (seed <- 0 until (4 * diffScale)) {
      val rnd = new scala.util.Random(41000L + seed)
      val t = new TxLogTable(spark, tmp())    // granular, range-clustered
      val full = new TxLogTable(spark, tmp()) // full-merge shadow
      val n = 150 + rnd.nextInt(150)
      val init = (0L until n.toLong).map(k => (k, rnd.nextInt(100000).toLong))
      t.appendClustered(init.toDF("k", "v"), "k", 2 + rnd.nextInt(6))
      full.merge(init.toDF("k", "v"), Seq("k"))
      var model = init.toMap
      val cutStep = rnd.nextInt(10)
      var cut: Option[(String, Long)] = None
      for (step <- 0 until 10) {
        def upsert(batch: Seq[(Long, Long)]): Unit = {
          t.merge(batch.toDF("k", "v"), Seq("k"), rangeCol = Some("k"))
          full.merge(batch.toDF("k", "v"), Seq("k"))
          model = model ++ batch.toMap
        }
        rnd.nextInt(6) match {
          case 0 | 1 => // contiguous range batch (the steady-state fold)
            val lo = rnd.nextInt(n).toLong
            upsert((lo until math.min(n.toLong, lo + 1 + rnd.nextInt(25)))
              .map(k => (k, rnd.nextInt(100000).toLong)))
          case 2 => // adversarial dual-end batch: both extremes of the key
            // space — exact containment probing must not drag every
            // directory in between into the rewrite NOR drop either end
            upsert(Seq((rnd.nextInt(5).toLong, rnd.nextInt(100000).toLong),
              (n.toLong - 1 - rnd.nextInt(5), rnd.nextInt(100000).toLong)))
          case 3 => // fresh keys beyond the committed range (index growth)
            val base = n.toLong + step * 50
            upsert((base until base + 1 + rnd.nextInt(10))
              .map(k => (k, rnd.nextInt(100000).toLong)))
          case 4 => // expiry between folds: drops keys strictly below a cut
            val cutoff = rnd.nextInt(n / 2).toLong
            t.expireOlderThan("k", cutoff)
            full.expireOlderThan("k", cutoff)
            model = model.filter(_._1 >= cutoff)
          case 5 => // compaction widens dir ranges; content must not move
            t.compact()
        }
        if (step == cutStep) {
          val dest = tmp() + s"/cut$seed"
          val v = t.exportSnapshot(dest)
          cut = Some((dest, v))
        }
      }
      val got = t.read().as[(Long, Long)].collect().toMap
      val shadow = full.read().as[(Long, Long)].collect().toMap
      assert(got == model, s"seed $seed: granular table diverged from the model")
      assert(shadow == model, s"seed $seed: full-merge shadow diverged (model bug)")
      // the mid-run cut restores EXACTLY its pinned version, marker intact
      cut.foreach { case (dest, v) =>
        val r = new TxLogTable(spark, tmp())
        r.importSnapshot(dest)
        assert(r.read().as[(Long, Long)].collect().toMap ==
          t.readVersion(v).as[(Long, Long)].collect().toMap,
          s"seed $seed: restored cut is not the pinned version $v")
        assert(r.clusteredOn.contains("k"), s"seed $seed: marker lost in restore")
      }
    }
  }
}
