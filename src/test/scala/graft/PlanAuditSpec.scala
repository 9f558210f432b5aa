package graft

import org.scalatest.funsuite.AnyFunSuite

class PlanAuditSpec extends AnyFunSuite {

  private val sf = "/data/tpch/sf0.01"
  private def stable(plan: String): String = PlanAudit.stableIds(plan, sf)

  test("expression, exchange, RDD and lambda variable ids are renumbered by first appearance") {
    assert(stable("Project [a_id#1234L, b_id#99L, a_id#1234L]") ==
      "Project [a_id#1L, b_id#2L, a_id#1L]")
    assert(stable("Exchange hashpartitioning(x#7, 4), [plan_id=812]\n" +
        "Exchange hashpartitioning(y#8, 4), [plan_id=815]\nReusedExchange [plan_id=812]") ==
      "Exchange hashpartitioning(x#1, 4), [plan_id=1]\n" +
        "Exchange hashpartitioning(y#2, 4), [plan_id=2]\nReusedExchange [plan_id=1]")
    assert(stable("MapPartitionsRDD[3635] at localCheckpoint, MapPartitionsRDD[3657], " +
        "MapPartitionsRDD[3635]") ==
      "MapPartitionsRDD[1] at localCheckpoint, MapPartitionsRDD[2], MapPartitionsRDD[1]")
    assert(stable("lambdafunction((lambda x_245#11 + lambda y_246#12), lambda x_245#11, " +
        "lambda y_246#12), lambdafunction(lambda x_250#3, lambda x_250#3)") ==
      "lambdafunction((lambda x_1#1 + lambda y_1#2), lambda x_1#1, " +
        "lambda y_1#2), lambdafunction(lambda x_2#3, lambda x_2#3)")
  }

  test("lambda and array identity hashes are dropped") {
    assert(stable("udf(x#3, graft.Fns$$$Lambda$1234/0x000000080123abcd@5f2a1b)") ==
      "udf(x#1, graft.Fns$$$Lambda)")
    assert(stable("args [I@1a2b3c, [Ljava.lang.String;@7f00aa") ==
      "args [I@, [Ljava.lang.String;@")
  }

  test("bucketed layouts of the source dir are named without dir slug and key") {
    val root = BucketedTables.Root
    assert(stable("+- Scan parquet spark_catalog.default." +
        "graft_b_lineitem__data_tpch_sf0_01_0b1096d64271 (1)") ==
      "+- Scan parquet spark_catalog.default.graft_b_lineitem (1)")
    assert(stable("Scan parquet spark_catalog.default." +
        "graft_b_host_edges_dst__data_tpch_sf0_01_5ddaa152c5c5") ==
      "Scan parquet spark_catalog.default.graft_b_host_edges_dst")
    assert(stable(s"Location: InMemoryFileIndex [file:$root/_data_tpch_sf0.01/lineitem-0b1096d64271]") ==
      s"Location: InMemoryFileIndex [file:$root/_data_tpch_sf0.01/lineitem]")
    assert(stable(s"[file:$root/_data_tpch_sf0.01/host_edges_src-3aa0a385ee1b]") ==
      s"[file:$root/_data_tpch_sf0.01/host_edges_src]")
    // a fresh copy of the same data keys new layouts, to the same text
    assert(stable("graft_b_orders__data_tpch_sf0_01_febbb15ba4fe") ==
      stable("graft_b_orders__data_tpch_sf0_01_b2a2a8951ac4"))
    // another source dir's table keeps its name
    val other = "graft_b_orders__data_tpch_sf1_febbb15ba4fe"
    assert(stable(other) == other)
  }

  test("RDD call-site line numbers are dropped") {
    assert(stable("MapPartitionsRDD[3635] at localCheckpoint at TextOps.scala:520, ExistingRDD") ==
      "MapPartitionsRDD[1] at localCheckpoint at TextOps.scala, ExistingRDD")
  }
}
