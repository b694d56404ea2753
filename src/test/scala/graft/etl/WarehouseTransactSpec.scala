package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, LinkOption, Paths}
import scala.jdk.CollectionConverters._

/** Pins for the warehouse's multi-table commit protocol: a
  * [[Warehouse.transact]] block must publish every table it touched in
  * ONE atomic catalog flip (all-or-nothing, no reader-visible
  * intermediate), an aborted block must leave no trace, and a
  * [[Warehouse#snapshot]] must keep resolving the pre-commit pair even
  * while transactions land. This is the cross-table half of the
  * transactional visibility the reference gets from Postgres
  * (`db.py:12-17`); the single-table half is WarehouseSnapshotSpec. */
class WarehouseTransactSpec extends SparkSpec {

  import spark.implicits._
  import WarehouseSnapshotSpec.{legacyPtr, ptrTarget}

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("v", IntegerType)))

  private def batch(v: Int, n: Int = 50) =
    (0 until n).map(i => (i, v)).toDF("id", "v")

  private def readV(wh: Warehouse, t: String): Set[Int] =
    wh.read(t, schema).select("v").distinct().as[Int].collect().toSet

  test("a transaction commits N tables in one flip; an abort publishes nothing") {
    val wh = new Warehouse(spark, tmpDir("whtx").toString)
    wh.replace("a", batch(0))
    wh.replace("b", batch(0))

    // abort: both writes staged, then the block throws — neither table
    // may change and the staged generation dirs must be gone
    intercept[RuntimeException] {
      wh.transact {
        wh.replace("a", batch(1))
        wh.replace("b", batch(1))
        sys.error("boom")
      }
    }
    assert(readV(wh, "a") == Set(0) && readV(wh, "b") == Set(0))
    Seq("a", "b").foreach { t =>
      val gens = Files.list(Paths.get(wh.root, t)).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("g")).toList
      assert(gens == List("g000000001"), s"$t staged dirs not cleaned: $gens")
    }

    // commit: inside the block reads see the staged state
    // (read-your-own-writes); outside, both tables flip together
    wh.transact {
      wh.replace("a", batch(2))
      assert(readV(wh, "a") == Set(2))            // own staged write
      wh.append("b", batch(2))                    // append also stages
      assert(readV(wh, "b") == Set(0, 2))
    }
    assert(readV(wh, "a") == Set(2) && readV(wh, "b") == Set(0, 2))
    // the catalog pointer and both table mirrors are symlinks naming the
    // live version and generations
    assert(ptrTarget(wh, "_catalog") == "v000000001")
    assert(ptrTarget(wh, "a") == "g000000002")
    assert(ptrTarget(wh, "b") == "g000000002")

    // after the abort and the commit, plain single-table writes still work
    // (locks were released) and keep the catalog entry current
    wh.replace("a", batch(3))
    assert(readV(wh, "a") == Set(3))
  }

  test("a snapshot pins the cross-table state across a later transaction") {
    val wh = new Warehouse(spark, tmpDir("whsnap").toString)
    wh.transact { wh.replace("a", batch(1)); wh.replace("b", batch(1)) }

    val snap = wh.snapshot()
    // a second transaction flips both tables under the snapshot
    wh.transact { wh.replace("a", batch(2)); wh.replace("b", batch(2)) }

    // live reads see the new pair; the snapshot still sees the OLD pair
    // for both tables — never v=1 for one and v=2 for the other
    assert(readV(wh, "a") == Set(2) && readV(wh, "b") == Set(2))
    val sa = snap.read("a", schema).select("v").distinct().as[Int].collect().toSet
    val sb = snap.read("b", schema).select("v").distinct().as[Int].collect().toSet
    assert(sa == Set(1) && sb == Set(1), s"snapshot torn: a=$sa b=$sb")
  }

  test("a reader polling two tables never straddles a transaction's commit") {
    val wh = new Warehouse(spark, tmpDir("whrace").toString)
    wh.transact { wh.replace("a", batch(0)); wh.replace("b", batch(0)) }

    @volatile var done = false
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      while (!done) {
        try {
          val snap = wh.snapshot()
          val va = snap.read("a", schema).agg(max("v")).head.getInt(0)
          val vb = snap.read("b", schema).agg(max("v")).head.getInt(0)
          if (va != vb) violations.add(s"straddled commit: a=$va b=$vb")
        } catch {
          case e: Throwable => violations.add(s"read failed: ${e.getMessage}")
        }
      }
    })
    reader.start()
    try {
      (1 to 5).foreach { g =>
        wh.transact { wh.replace("a", batch(g)); wh.replace("b", batch(g)) }
      }
    } finally { done = true; reader.join(120000) }
    assert(violations.isEmpty, violations.asScala.mkString("; "))
  }

  test("legacy regular-file pointers read the same state; the next commit " +
      "converts them; drop deletes the pointer and keeps pinned generations") {
    val wh = new Warehouse(spark, tmpDir("whlegacy").toString, catalogRetention = 4)
    wh.transact { wh.replace("a", batch(1)); wh.replace("b", batch(1)) } // v1
    wh.transact { wh.replace("a", batch(2)) }                            // v2
    Seq("a" -> "g000000002", "b" -> "g000000001", "_catalog" -> "v000000002")
      .foreach { case (d, n) => legacyPtr(wh, d, n) }
    assert(readV(wh, "a") == Set(2) && readV(wh, "b") == Set(1))
    assert(wh.snapshot().read("a", schema).count() == 50L)
    assert(wh.snapshotAt(1).read("a", schema).select("v").distinct()
      .as[Int].collect().toSet == Set(1))

    wh.transact { wh.replace("a", batch(3)); wh.append("b", batch(3)) } // v3
    assert(readV(wh, "a") == Set(3) && readV(wh, "b") == Set(1, 3))
    assert(ptrTarget(wh, "_catalog") == "v000000003")
    assert(ptrTarget(wh, "a") == "g000000003")
    assert(ptrTarget(wh, "b") == "g000000002")

    // drop: the pointer goes, the live generation and every generation a
    // retained version pins stay, and time travel still reads them
    assert(wh.drop("a") && !wh.exists("a"))
    val aRoot = Paths.get(wh.root, "a")
    assert(!Files.exists(aRoot.resolve("_current"), LinkOption.NOFOLLOW_LINKS))
    val gens = Files.list(aRoot).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("g")).toList.sorted
    assert(gens == List("g000000001", "g000000002", "g000000003"))
    assert(ptrTarget(wh, "_catalog") == "v000000004")
    assert(wh.snapshotAt(2).read("a", schema).select("v").distinct()
      .as[Int].collect().toSet == Set(2))
  }

  test("a stale _current.tmp link of a writer killed before its rename " +
      "changes nothing; the next commit replaces it") {
    val wh = new Warehouse(spark, tmpDir("whstaletmp").toString)
    wh.transact { wh.replace("a", batch(1)) }                            // v1
    wh.replace("u", batch(1))                     // u resolves by its pointer
    // each writer died between creating its link and renaming it
    // over _current: the table's link names a generation it had written,
    // the catalog's a version whose manifest it had written
    Files.createDirectories(Paths.get(wh.root, "u", "g000000002"))
    Files.write(Paths.get(wh.root, "_catalog", "v000000002"),
      "#ts\t0\na\tg000000002\n".getBytes("UTF-8"))
    Seq("u" -> "g000000002", "_catalog" -> "v000000002").foreach { case (d, n) =>
      Files.createSymbolicLink(Paths.get(wh.root, d, "_current.tmp"), Paths.get(n))
    }
    assert(readV(wh, "a") == Set(1) && readV(wh, "u") == Set(1))
    assert(wh.snapshot().read("a", schema).count() == 50L)
    assert(ptrTarget(wh, "a") == "g000000001")

    wh.replace("u", batch(2))
    wh.transact { wh.replace("a", batch(2)) }
    assert(readV(wh, "a") == Set(2) && readV(wh, "u") == Set(2))
    assert(ptrTarget(wh, "u") == "g000000003") // numbered past the stale dir
    assert(ptrTarget(wh, "_catalog") == "v000000002")
    assert(ptrTarget(wh, "a") == "g000000002")
  }

  test("nested transactions are refused; a live foreign lock aborts the block cleanly") {
    val wh = new Warehouse(spark, tmpDir("whnest").toString)
    intercept[IllegalArgumentException] { wh.transact { wh.transact { () } } }

    wh.transact { wh.replace("a", batch(1)); wh.replace("b", batch(1)) }
    // another LIVE writer holds table b's OS file lock: the transaction
    // must fail when it first touches b, and its staged write to a must
    // be rolled back — not half-committed
    val lock = Paths.get(wh.root, "b", "_lock")
    val foreign = java.nio.channels.FileChannel.open(lock,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val held = foreign.tryLock()
    try {
      intercept[IllegalStateException] {
        wh.transact { wh.replace("a", batch(9)); wh.replace("b", batch(9)) }
      }
    } finally { held.release(); foreign.close() }
    assert(readV(wh, "a") == Set(1) && readV(wh, "b") == Set(1))
  }

  test("concurrent transactions on DIFFERENT tables overlap — commits " +
    "never queue on a warehouse-global writer lock") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val wh = new Warehouse(spark, tmpDir("whconc").toString)
    // catalog both tables so both commits exercise the shared flip path
    wh.transact { wh.replace("ta", batch(1)); wh.replace("tb", batch(1)) }
    val v1 = wh.catalogVersions().max
    val taStaged = new CountDownLatch(1)
    val tbDone = new CountDownLatch(1)
    @volatile var overlapped = false
    @volatile var t1Err: Throwable = null
    val t1 = new Thread(() => try {
      wh.transact {
        wh.replace("ta", batch(2))     // holds ta's table lock until flip
        taStaged.countDown()
        // hold the transaction OPEN (ta locked, flip not reached) while
        // the other pipeline commits tb END-TO-END — per-table locking
        // means that commit must not wait for this one
        overlapped = tbDone.await(60, TimeUnit.SECONDS)
      }
    } catch { case e: Throwable => t1Err = e; taStaged.countDown() })
    t1.start()
    assert(taStaged.await(60, TimeUnit.SECONDS) && t1Err == null,
      s"writer 1 failed to stage: $t1Err")
    wh.transact { wh.replace("tb", batch(2)) }   // writer 2, this thread
    val v2 = wh.catalogVersions().max
    tbDone.countDown()
    t1.join(60000)
    assert(t1Err == null, s"writer 1 failed: $t1Err")
    assert(overlapped,
      "a tb commit must complete while ta's transaction holds its lock")
    // both landed; neither update lost at the shared flip
    assert(readV(wh, "ta") == Set(2) && readV(wh, "tb") == Set(2))
    // time travel: the intermediate version (tb committed, ta still
    // open) resolves tb=2 and ta=1 — the flip order is preserved
    val mid = wh.snapshotAt(v2)
    assert(mid.read("tb", schema).select("v").distinct().as[Int]
      .collect().toSet == Set(2))
    assert(mid.read("ta", schema).select("v").distinct().as[Int]
      .collect().toSet == Set(1))
    // v1 itself may have aged past the retention horizon (2 newer
    // commits landed) — monotone version growth is the remaining check
    assert(v2 > v1)
  }

  test("a foreign live CATALOG lock delays a commit (bounded wait), " +
    "never fails it — table locks still fail fast") {
    val wh = new Warehouse(spark, tmpDir("whcatwait").toString)
    wh.transact { wh.replace("a", batch(1)) }    // 'a' is cataloged now
    val lock = Paths.get(wh.root, "_catalog", "_lock")
    val foreign = java.nio.channels.FileChannel.open(lock,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val held = foreign.tryLock()
    assert(held != null, "test setup: catalog lock not acquirable")
    val holdMillis = 1500L
    val releaser = new Thread(() => {
      Thread.sleep(holdMillis)
      held.release(); foreign.close()
    })
    val t0 = System.nanoTime()
    releaser.start()
    // the commit needs the catalog flip; a same-budget table lock would
    // throw here (the nested-transactions test pins that) — the catalog
    // lock must WAIT the foreign holder out and then commit
    wh.replace("a", batch(2))
    val waited = (System.nanoTime() - t0) / 1e6
    releaser.join(30000)
    assert(readV(wh, "a") == Set(2))
    assert(waited >= holdMillis * 0.5,
      s"commit returned in $waited ms — it cannot have waited the " +
        "foreign catalog holder out")
  }

  test("transaction state is visible across instances over one root") {
    val root = tmpDir("whxinst").toString
    val wh = new Warehouse(spark, root)
    wh.transact { wh.replace("a", batch(1)) }
    wh.transact {
      wh.replace("a", batch(2))
      // a FRESH instance over the same root (the SQL catalog constructs
      // one per statement) must see this thread's open transaction:
      // nesting refuses, and drop refuses rather than committing a
      // manifest-minus-entry that races the deferred flip
      val other = new Warehouse(spark, root)
      intercept[IllegalArgumentException] { other.transact { () } }
      intercept[IllegalArgumentException] { other.drop("a") }
    }
    assert(readV(wh, "a") == Set(2))
    // and the state is gone once the block closes: the fresh instance
    // can transact (and drop) normally afterwards
    val other2 = new Warehouse(spark, root)
    other2.transact { other2.replace("b", batch(3)) }
    assert(other2.drop("b") && !other2.exists("b"))
  }

  test("appendIfAbsentMany: one staging job for N tables, appendIfAbsent " +
      "semantics per table, idempotent replay") {
    val wh = new Warehouse(spark, tmpDir("whmany").toString)
    // seed table a so its anti-join path is live; b starts absent
    wh.replace("a", (0 until 10).map(i => (i, 0)).toDF("id", "v"))
    // batch overlaps a on ids 5..9 and carries a within-batch dup for b
    val batchA = (5 until 20).map(i => (i, 1)).toDF("id", "v")
    val batchB = ((0 until 5) :+ 0).map(i => (i, 2)).toDF("id", "v")
    // pin the ACTION fusion (jobs-per-action varies with AQE): the call
    // must run exactly ONE non-command query execution — the tagged-
    // union staging count — plus one write command per non-empty table
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = actions.add(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val ns = wh.appendIfAbsentMany(Seq(
        wh.Append("a", schema, batchA, Seq("id"), "id"),
        wh.Append("b", schema, batchB, Seq("id"), "id")))
      Thread.sleep(500)  // let listener events drain
      val inCall = actions.toArray(Array.empty[String]).toSeq
      // semantics: a gets only the non-conflicting 10..19; b dedupes the
      // within-batch id-0 dup and lands 5 rows
      assert(ns == Seq(10L, 5L), s"landed counts $ns")
      assert(wh.read("a", schema).count() == 20)
      assert(wh.read("b", schema).count() == 5)
      val nonCommand = inCall.count(f => f != "command" && f != "save")
      assert(nonCommand == 1,
        s"fused multi-append ran $nonCommand non-command actions " +
          s"(expected the single tagged staging count): $inCall")
    } finally spark.listenerManager.unregister(listener)
    // replay: nothing fresh anywhere, no new generation written
    val ns2 = wh.appendIfAbsentMany(Seq(
      wh.Append("a", schema, batchA, Seq("id"), "id"),
      wh.Append("b", schema, batchB, Seq("id"), "id")))
    assert(ns2 == Seq(0L, 0L))
    assert(wh.read("a", schema).count() == 20)
    assert(wh.read("b", schema).count() == 5)
    // a duplicate table in one call is refused loudly
    intercept[IllegalArgumentException] {
      wh.appendIfAbsentMany(Seq(
        wh.Append("a", schema, batchA, Seq("id"), "id"),
        wh.Append("a", schema, batchA, Seq("id"), "id")))
    }
  }
}
