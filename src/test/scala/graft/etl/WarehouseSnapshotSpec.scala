package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, LinkOption, Paths}
import scala.jdk.CollectionConverters._

/** Snapshot-isolation pins for the warehouse's generation-pointer commit
  * protocol: a reader racing a partition-scoped merge must see either the
  * complete pre-merge or the complete post-merge table — never a mix —
  * and a DataFrame planned before a flip keeps its snapshot. This is the
  * transactional-visibility property the reference inherits from
  * Postgres (`db.py:12-17`), rebuilt on parquet via `_current`. */
class WarehouseSnapshotSpec extends SparkSpec {

  import spark.implicits._
  import WarehouseSnapshotSpec._

  private val schema = StructType(Seq(
    StructField("study_id", StringType),
    StructField("v", IntegerType),
    StructField("k", IntegerType)))

  private def batch(study: String, v: Int) =
    (0 until 200).map(k => (study, v, k)).toDF("study_id", "v", "k")

  test("readers racing merges never observe a torn table") {
    val wh = new Warehouse(spark, tmpDir("whgen").toString)
    wh.replace("t", batch("SA", 0).unionByName(batch("SB", 0)), Seq("study_id"))

    @volatile var done = false
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      while (!done) {
        try {
          val obs = wh.read("t", schema)
            .groupBy("study_id", "v").agg(count(lit(1)).as("n"))
            .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
          val bySt = obs.groupBy(_._1)
          // torn would look like: two v values inside one partition, or a
          // partial row count while files swap underneath the scan
          Seq("SA", "SB").foreach { st =>
            val vs = bySt.getOrElse(st, Array.empty[(String, Int, Long)])
            if (vs.length != 1 || vs.head._3 != 200L)
              violations.add(s"$st torn: ${vs.mkString(",")}")
          }
          // SB is never merged: any change there is a tear by definition
          bySt.get("SB").foreach { vs =>
            if (vs.head._2 != 0) violations.add(s"SB mutated: ${vs.mkString(",")}")
          }
        } catch {
          case e: Throwable => violations.add(s"read failed: ${e.getMessage}")
        }
      }
    })
    reader.start()
    try {
      (1 to 5).foreach { g =>
        wh.mergeReplacePartitions("t", schema, batch("SA", g),
          (_, incoming) => incoming, Seq("study_id"))
      }
    } finally { done = true; reader.join(120000) }
    assert(violations.isEmpty, violations.asScala.mkString("; "))

    val fin = wh.read("t", schema).groupBy("study_id")
      .agg(max("v").as("v"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(fin == Map("SA" -> ((5, 200L)), "SB" -> ((0, 200L))))
  }

  test("stale dirs from a crashed writer are swept; the next merge succeeds") {
    val wh = new Warehouse(spark, tmpDir("whcrash").toString)
    wh.replace("t", batch("SA", 0), Seq("study_id"))
    // simulate a writer that died mid-merge: a half-written merge staging
    // dir and a half-written next-generation dir litter the table root
    val tRoot = java.nio.file.Paths.get(wh.root, "t")
    val staleTmp = tRoot.resolve(".merge-tmp/study_id=SA")
    val staleGen = tRoot.resolve("g000000002/study_id=SA")
    java.nio.file.Files.createDirectories(staleTmp)
    java.nio.file.Files.createDirectories(staleGen)
    java.nio.file.Files.writeString(staleTmp.resolve("part-junk"), "junk")
    java.nio.file.Files.writeString(staleGen.resolve("part-junk"), "junk")
    // the crash never flipped _current, so readers still see generation 1
    assert(wh.read("t", schema).count() == 200)
    wh.mergeReplacePartitions("t", schema, batch("SA", 7),
      (_, incoming) => incoming, Seq("study_id"))
    val rows = wh.read("t", schema).groupBy("v").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows == Map(7 -> 200L))      // merged cleanly, junk not visible
    assert(!java.nio.file.Files.exists(tRoot.resolve(".merge-tmp")))
  }

  test("a DataFrame planned before a flip keeps its snapshot; GC keeps two generations") {
    val wh = new Warehouse(spark, tmpDir("whgc").toString)
    wh.replace("t", batch("SA", 0), Seq("study_id"))
    assert(ptrTarget(wh, "t") == "g000000001")
    val pinned = wh.read("t", schema)   // resolves the g1 directory
    wh.mergeReplacePartitions("t", schema, batch("SA", 1),
      (_, incoming) => incoming, Seq("study_id"))
    // the live read sees the merge; the pinned plan still sees v = 0
    assert(wh.read("t", schema).agg(sum("v")).head.getLong(0) == 200L)
    assert(pinned.agg(sum("v")).head.getLong(0) == 0L)
    wh.mergeReplacePartitions("t", schema, batch("SA", 2),
      (_, incoming) => incoming, Seq("study_id"))
    val gens = java.nio.file.Files.list(java.nio.file.Paths.get(wh.root, "t"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("g")).toList.sorted
    assert(gens == List("g000000002", "g000000003")) // g1 GC'd, previous kept
    assert(ptrTarget(wh, "t") == "g000000003")
    // appends flip generations too: the batch lands atomically
    wh.append("t", batch("SB", 9), Seq("study_id"))
    val counts = wh.read("t", schema).groupBy("study_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("SA" -> 200L, "SB" -> 200L))
    assert(ptrTarget(wh, "t") == "g000000004")
  }

  test("a legacy regular-file pointer reads the same rows; the next commit " +
      "converts it to a symlink") {
    val wh = new Warehouse(spark, tmpDir("whlegacy").toString)
    wh.replace("t", batch("SA", 0), Seq("study_id"))
    wh.append("t", batch("SB", 0), Seq("study_id"))
    val before = wh.read("t", schema).collect().toSet
    legacyPtr(wh, "t", "g000000002")
    assert(wh.read("t", schema).collect().toSet == before)
    assert(wh.snapshot().read("t", schema).count() == 400L)

    wh.mergeReplacePartitions("t", schema, batch("SA", 3),
      (_, incoming) => incoming, Seq("study_id"))
    assert(ptrTarget(wh, "t") == "g000000003")
    val counts = wh.read("t", schema).groupBy("study_id", "v").count()
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(counts == Map(("SA", 3) -> 200L, ("SB", 0) -> 200L))
  }

  test("a second live writer fails fast; a crashed writer's lock auto-releases") {
    val wh = new Warehouse(spark, tmpDir("whlock").toString)
    wh.replace("t", batch("SA", 0), Seq("study_id"))
    val reader = wh.read("t", schema)          // pins generation g1
    val lock = java.nio.file.Paths.get(wh.root, "t", "_lock")

    // a LIVE writer = an actually-held OS file lock (liveness is the OS
    // lock, never the file's pid content): every mutation must refuse
    // before touching anything
    val foreign = java.nio.channels.FileChannel.open(lock,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val held = foreign.tryLock()
    try {
      intercept[IllegalStateException] { wh.append("t", batch("SB", 1), Seq("study_id")) }
      intercept[IllegalStateException] { wh.replace("t", batch("SB", 1), Seq("study_id")) }
      intercept[IllegalStateException] {
        wh.mergeReplacePartitions("t", schema, batch("SA", 2),
          (_, incoming) => incoming, Seq("study_id"))
      }
      // nothing was committed or GC'd: live table AND the pinned reader
      // still see the original generation
      assert(wh.read("t", schema).count() == 200L)
      assert(reader.agg(sum("v")).head.getLong(0) == 0L)
    } finally { held.release(); foreign.close() }

    // a CRASHED writer leaves only the lock FILE — the OS released its
    // lock with the process, so there is no stale state to take over
    // (and no delete-and-recreate race between two recovering writers):
    // the next writer just acquires
    java.nio.file.Files.write(lock, "2147483646".getBytes("UTF-8"))
    wh.append("t", batch("SB", 9), Seq("study_id"))
    assert(wh.read("t", schema).filter(col("study_id") === "SB").count() == 200L)
  }

  test("the lock names exactly its last owner's pid, over a longer stale one") {
    val wh = new Warehouse(spark, tmpDir("whlockpid").toString)
    val lock = Paths.get(wh.root, "t", "_lock")
    Files.createDirectories(lock.getParent)
    // a longer pid string than this process's, left by an earlier owner
    val stale = Long.MaxValue.toString
    val pid = ProcessHandle.current().pid().toString
    assert(stale.length > pid.length)
    Files.write(lock, stale.getBytes("UTF-8"))
    wh.replace("t", batch("SA", 0), Seq("study_id"))   // take + release

    val foreign = java.nio.channels.FileChannel.open(lock,
      java.nio.file.StandardOpenOption.WRITE)
    val held = foreign.tryLock()
    try {
      val e = intercept[IllegalStateException] {
        wh.append("t", batch("SB", 1), Seq("study_id"))
      }
      assert(e.getMessage.contains(s"live writer pid $pid ($lock)"),
        e.getMessage)
    } finally { held.release(); foreign.close() }
    assert(wh.read("t", schema).count() == 200L)
  }
}

object WarehouseSnapshotSpec {
  import org.scalatest.Assertions._

  /** What pointer `dir/_current` names (a table's generation, or the
    * catalog's version for `_catalog`), asserting it is a symlink and that
    * no `_current.tmp` is left beside it. */
  def ptrTarget(wh: Warehouse, dir: String): String = {
    val ptr = Paths.get(wh.root, dir, "_current")
    assert(Files.isSymbolicLink(ptr), s"$ptr is not a symlink")
    assert(!Files.exists(ptr.resolveSibling("_current.tmp"),
      LinkOption.NOFOLLOW_LINKS))
    Files.readSymbolicLink(ptr).toString
  }

  /** Rewrite pointer `dir/_current` as a regular file holding `name`, the
    * way warehouses written before pointers were links hold it. */
  def legacyPtr(wh: Warehouse, dir: String, name: String): Unit = {
    val ptr = Paths.get(wh.root, dir, "_current")
    Files.delete(ptr)
    Files.write(ptr, s"$name\n".getBytes("UTF-8"))
  }
}
