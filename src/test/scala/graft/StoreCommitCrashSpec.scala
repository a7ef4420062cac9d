package graft

import java.io.File
import java.nio.file.Files
import scala.util.Try
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import graft.ops.{IncrementalIndex, Rollup, StoreCommit}

/** Every [[StoreCommit]] writer crashed at every file-system mutation of
  * its store: after `recover` the store reads exactly as before or as
  * after the commit, and rerunning the writer gives the store an
  * uncrashed run gives.
  *
  * Crashes come from [[CrashFs]]: the writer runs against the same tree
  * under the `crashfs` scheme, which fails the n-th and every later
  * create/rename/delete under the store. The uncrashed run counts the
  * mutations, so n covers every step: the staged Spark write, the
  * manifest, each swap rename and each cleanup delete.
  */
class StoreCommitCrashSpec extends SparkSpec {
  import spark.implicits._

  /** One writer under test. `setup` builds the pre-commit tree in a local
    * dir; `commit` runs the writer on that tree through [[CrashFs]];
    * `store` is the committed store under the tree. `restore` lists
    * dirs the writer appends to outside the protocol: a rerun starts
    * from their pre-commit copy. `idempotent` writers are also rerun
    * when the crash left the commit done; an additive refresh is not,
    * since a second apply double-counts. */
  private case class Writer(store: String, setup: String => Unit,
                            commit: String => Unit, idempotent: Boolean,
                            restore: Seq[String] = Nil)

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def copyOf(dir: String): String = {
    val t = tmp("graft_crash_run_")
    FileUtils.copyDirectory(new File(dir), new File(t))
    t
  }

  /** The store's rows, columns in name order, as sorted strings. */
  private def rows(dir: String): Seq[String] = {
    val df = spark.read.parquet(dir)
    df.select(df.columns.sorted.map(c => col(s"`$c`")): _*)
      .collect().map(_.toString).sorted.toSeq
  }

  /** Wait out tasks still running after a failed job. */
  private def quiesce(): Unit = {
    val st = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 60L * 1000000000L
    while ((st.getActiveJobIds().nonEmpty ||
        st.getExecutorInfos.exists(_.numRunningTasks > 0)) && System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  private def crashAtEveryStep(w: Writer): Unit = {
    CrashFs.install(spark)
    val base = tmp("graft_crash_base_")
    w.setup(base)
    val before = rows(s"$base/${w.store}")
    val clean = copyOf(base)
    CrashFs.arm(s"$clean/${w.store}", Int.MaxValue)
    w.commit(clean)
    val steps = CrashFs.disarm()
    val after = rows(s"$clean/${w.store}")
    assert(steps >= 8, s"only $steps mutations counted")
    var crashes = 0
    spark.sparkContext.setLogLevel("OFF") // every crash logs its task failures
    try for (n <- 1 to steps) {
      val t = copyOf(base)
      val store = s"$t/${w.store}"
      CrashFs.arm(store, n)
      val crashed = Try(w.commit(t)).isFailure
      quiesce()
      CrashFs.disarm()
      if (crashed) crashes += 1
      val sp = new Path(store)
      StoreCommit.recover(sp.getFileSystem(spark.sparkContext.hadoopConfiguration), sp)
      val got = rows(store)
      assert(got == before || got == after,
        s"crash at mutation $n of $steps: the store is neither as before nor as after")
      assert(crashed || got == after, s"mutation $n of $steps: no crash, commit incomplete")
      if (got == before || w.idempotent) {
        w.restore.foreach { d =>
          FileUtils.deleteDirectory(new File(s"$t/$d"))
          FileUtils.copyDirectory(new File(s"$base/$d"), new File(s"$t/$d"))
        }
        w.commit(t)
        assert(rows(store) == after, s"rerun after a crash at mutation $n of $steps")
      }
      FileUtils.deleteDirectory(new File(t))
    } finally spark.sparkContext.setLogLevel("ERROR")
    // the count is deterministic for these inputs; a few late steps may
    // only be reached by some runs
    assert(crashes >= steps - 2, s"$crashes crashes in $steps steps")
  }

  test("refreshAdditive with a null-partition delta survives a crash at every step") {
    crashAtEveryStep(Writer("store",
      setup = dir => Seq((Option("d0"), "x", 2L), (Option("d1"), "x", 5L),
          (Option.empty[String], "x", 4L))
        .toDF("d", "k", "n").write.partitionBy("d").parquet(s"$dir/store"),
      commit = dir => Rollup.refreshAdditive(spark, s"${CrashFs.uri(dir)}/store",
        Seq((Option.empty[String], "x", 3L), (Option("d0"), "y", 1L), (Option("d2"), "x", 7L))
          .toDF("d", "k", "n"),
        "d", keyCols = Seq("k"), sumCols = Seq("n")),
      idempotent = false))
  }

  test("compactPartitions survives a crash at every step") {
    crashAtEveryStep(Writer("store",
      setup = dir => (1 to 60).map(i => (s"d${i % 3}", i.toLong)).toDF("d", "k")
        .repartition(3).write.partitionBy("d").parquet(s"$dir/store"),
      commit = dir => Rollup.compactPartitions(spark, s"${CrashFs.uri(dir)}/store", "d"),
      idempotent = true))
  }

  test("Knn.refresh survives a crash at every step of its edge commit") {
    // 4 separated clusters; the delta lands in cluster 0 only
    def em(n: Int, delta: Boolean) = {
      val rnd = new scala.util.Random(if (delta) 5 else 3)
      (0 until n).map { i =>
        val c = if (delta) 0 else i % 4
        val v = Array.fill(64)(rnd.nextInt(21) / 1000.0f)
        v(c * 16) = 1.0f + rnd.nextInt(100) / 1000.0f
        (if (delta) 1000L + i else i.toLong, v.toSeq)
      }.toDF("vec_id", "embedding")
    }
    crashAtEveryStep(Writer("idx/edges",
      setup = dir => IncrementalIndex.Knn.build(em(80, delta = false),
        "vec_id", "embedding", s"$dir/idx"),
      commit = dir => IncrementalIndex.Knn.refresh(spark, s"${CrashFs.uri(dir)}/idx",
        em(12, delta = true), "vec_id", "embedding"),
      idempotent = true,
      // the delta's probe rows append to assign/ before the edge commit
      restore = Seq("idx/assign")))
  }

  test("UpsertSink survives a crash at every step; the replayed batch converges") {
    val src = tmp("graft_crash_src_")
    val t0 = System.currentTimeMillis() - 600000L
    def land(name: String, line: String, mtime: Long): Unit = {
      val f = new File(src, name)
      Files.write(f.toPath, line.getBytes("UTF-8"))
      assert(f.setLastModified(mtime))
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, ver BIGINT, payload STRING")
    def drain(state: String, ckpt: String): Unit = graft.streaming.UpsertSink.availableNow(
      graft.streaming.KafkaSource.decodeJson(
        spark.readStream.option("maxFilesPerTrigger", "1").text(src), schema),
      state, ckpt, keyCol = "k", orderCols = Seq("ver"), nBuckets = 4)
    land("b0.json", Seq("""{"k":1,"ver":10,"payload":"a"}""",
      """{"k":2,"ver":10,"payload":"b"}""", """{"k":3,"ver":10,"payload":"c"}""")
      .mkString("\n"), t0)
    crashAtEveryStep(Writer("state",
      setup = dir => {
        drain(s"$dir/state", s"$dir/ckpt")
        // the next batch supersedes k=1, adds k=6; bucket 3 stays untouched
        land("b1.json", Seq("""{"k":1,"ver":20,"payload":"a2"}""",
          """{"k":6,"ver":11,"payload":"f"}""").mkString("\n"), t0 + 60000L)
      },
      commit = dir => drain(s"${CrashFs.uri(dir)}/state", s"$dir/ckpt"),
      idempotent = true))
  }
}
