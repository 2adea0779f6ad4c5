package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}

/** Source/sink format surface beyond parquet (SURVEY.md §2.B sources):
  * CSV and JSON-lines round trips with declared schemas (no inference —
  * consistent with the engine's declared-schema stance), plus partitioned
  * parquet writes (the layout a 100 TB corpus would use). */
class FileFormatsSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = GraftSession.local("4")
  val dir = "/root/testdata/sf0.001"

  private val tmps = scala.collection.mutable.ArrayBuffer.empty[Path]
  private def tmp(name: String): String = {
    val p = Files.createTempDirectory(s"graft_$name")
    tmps += p
    s"$p/out"
  }
  override def afterAll(): Unit = tmps.foreach(graft.util.Fs.deleteTree)

  test("csv round trip preserves values under declared schema") {
    val nation = Tables.nation(spark, dir)
    val path = tmp("csv")
    nation.write.option("header", "true").csv(path)
    val back = spark.read.option("header", "true")
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT").csv(path)
    assert(back.count() == nation.count())
    assert(back.exceptAll(nation).count() == 0)
  }

  test("json-lines round trip preserves values under declared schema") {
    val customer = Tables.customer(spark, dir)
    val path = tmp("json")
    customer.write.json(path)
    val back = spark.read
      .schema("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING")
      .json(path)
    assert(back.exceptAll(customer).count() == 0)
  }

  test("orc round trip preserves values; predicates push to the orc scan") {
    val lineitem = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val path = tmp("orc")
    lineitem.write.orc(path)
    val back = spark.read.orc(path)
    assert(back.exceptAll(lineitem).count() == 0)
    // the columnar-format contract: the filter reaches the scan (ORC
    // row-group stats skip), it is not a post-scan residual only
    val plan = back.filter(col("l_returnflag") === "R")
      .queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(l_returnflag,R)"),
      s"filter must push into the ORC scan:\n$plan")
  }

  test("partitioned parquet write prunes partitions on read") {
    val orders = Tables.orders(spark, dir)
      .withColumn("yr", year(col("o_orderdate")))
    val path = tmp("part")
    orders.write.partitionBy("yr").parquet(path)
    val back = spark.read.parquet(path)
    val onlyOne = back.filter(col("yr") === 1995)
    val scan = onlyOne.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(yr"), s"no partition pruning:\n$scan")
    assert(onlyOne.count() ==
      orders.filter(year(col("o_orderdate")) === 1995).count())
  }
}
