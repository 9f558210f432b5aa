package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class GraftConfSpec extends AnyFunSuite {

  test("the scratch sweep removes dead runs' directories and keeps live ones") {
    val parent = SparkSpec.tempDir("graft-scratch")
    // a PID that certainly belonged to a process that has exited
    val p = new ProcessBuilder("true").start()
    p.waitFor()
    val deadPid = p.pid()
    assert(ProcessHandle.of(deadPid).isEmpty)
    val dead = parent.resolve(deadPid.toString)
    Files.createDirectories(dead.resolve("blockmgr-1/0c"))
    Files.writeString(dead.resolve("blockmgr-1/0c/shuffle_0_0_0.data"), "x")
    val live = parent.resolve(ProcessHandle.current().pid().toString)
    Files.createDirectories(live.resolve("spark-1"))
    val other = parent.resolve("not-a-pid")
    Files.createDirectories(other)

    GraftConf.sweepDeadScratch(parent.toFile)

    assert(!Files.exists(dead), "a dead PID's scratch must be deleted")
    assert(Files.exists(live.resolve("spark-1")), "a live PID's scratch must be kept")
    assert(Files.exists(other), "only <pid> directories are swept")
  }
}
