package graft

import graft.sinks.{LeaseHeldException, StoreLease}
import java.nio.file.Files

class StoreLeaseSpec extends SparkSpec {

  private def tmpRoot(name: String): String =
    SparkSpec.tempDir(name).resolve("links").toString

  test("exclusive acquire: a live lease refuses a second writer, release frees it") {
    val root = tmpRoot("lease1")
    val a = StoreLease.acquire(spark, root, holder = "writer-a")
    val e = intercept[LeaseHeldException](
      StoreLease.acquire(spark, root, holder = "writer-b"))
    assert(e.getMessage.contains("writer-a"), "refusal names the live holder")
    assert(e.getMessage.contains(root))
    a.release()
    // freed: the next writer acquires and the file carries ITS id
    val b = StoreLease.acquire(spark, root, holder = "writer-b")
    val e2 = intercept[LeaseHeldException](
      StoreLease.acquire(spark, root, holder = "writer-c"))
    assert(e2.getMessage.contains("writer-b"))
    b.release()
  }

  test("a dead holder's stale lease is broken; exactly one breaker wins") {
    val root = tmpRoot("lease2")
    // a DEAD holder: lease file written directly (no heartbeat thread),
    // mtime backdated past staleness
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root))
    val p = new org.apache.hadoop.fs.Path(root, StoreLease.LeaseFile)
    val out = fs.create(p, false)
    try out.write("crashed-writer\n".getBytes("UTF-8")) finally out.close()
    fs.setTimes(p, System.currentTimeMillis() - 60000L, -1)
    // fresh-window acquire refuses; past staleness it breaks the lease
    intercept[LeaseHeldException](
      StoreLease.acquire(spark, root, holder = "early", staleMs = 120000L))
    val broke = StoreLease.acquire(spark, root, holder = "breaker", staleMs = 30000L)
    // the broken lease is a real lease: others are refused and the
    // refusal names the breaker, not the crashed writer
    val e = intercept[LeaseHeldException](
      StoreLease.acquire(spark, root, holder = "late", staleMs = 30000L))
    assert(e.getMessage.contains("breaker"))
    broke.release()
  }

  test("heartbeat keeps a long-held lease fresh past the staleness window") {
    val root = tmpRoot("lease3")
    // staleMs shorter than the hold time: without the heartbeat the
    // second acquire would break this lease mid-hold
    val a = StoreLease.acquire(spark, root, holder = "long-fold", staleMs = 400L)
    Thread.sleep(1200L)
    val e = intercept[LeaseHeldException](
      StoreLease.acquire(spark, root, holder = "impatient", staleMs = 400L))
    assert(e.getMessage.contains("long-fold"))
    a.release()
    StoreLease.acquire(spark, root, holder = "after", staleMs = 400L).release()
  }

  test("a zombie holder's late release cannot delete its successor's lease") {
    val root = tmpRoot("lease5")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(root, StoreLease.LeaseFile)
    // zombie = a holder whose lease went stale mid-hold (suspended VM);
    // long staleMs keeps its heartbeat from re-freshening during the test
    val zombie = StoreLease.acquire(spark, root, holder = "zombie", staleMs = 600000L)
    fs.setTimes(p, System.currentTimeMillis() - 120000L, -1) // force staleness
    val successor = StoreLease.acquire(spark, root, holder = "successor", staleMs = 30000L)
    // the zombie wakes up and releases — the SUCCESSOR's lease must survive
    zombie.release()
    assert(fs.exists(p), "successor's lease deleted by zombie's release")
    val e = intercept[LeaseHeldException](
      StoreLease.acquire(spark, root, holder = "third", staleMs = 30000L))
    assert(e.getMessage.contains("successor"))
    successor.release()
    assert(!fs.exists(p), "owner's own release must delete its lease")
  }

  test("withLease releases on exception and StoreGen.commit keeps the lease file") {
    val root = tmpRoot("lease4")
    intercept[RuntimeException] {
      StoreLease.withLease(spark, root, holder = "thrower") { _ =>
        throw new RuntimeException("fold blew up")
      }
    }
    // released despite the throw
    StoreLease.withLease(spark, root, holder = "next") { lease =>
      lease.ensureHeld() // live lease: must be a no-op
      // a commit during the hold must not sweep _LEASE as legacy debris
      graft.sinks.StoreGen.publish(spark, root, tmp =>
        spark.range(3).toDF("id").write.parquet(tmp))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(new org.apache.hadoop.fs.Path(root, StoreLease.LeaseFile)),
        "commit's allowlist must keep the held lease")
    }
    assert(spark.read.parquet(graft.sinks.StoreGen.resolve(spark, root)).count() == 3)
  }
}
