package graft.ops

import graft.{SparkSpec, Tables}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._

/** Semantic invariants of the SortSetOps operators, checked by
  * driver-side recomputation. */
class SortSetOpsSpec extends SparkSpec {

  test("set_except: non-empty on a derived fixture and equal to the " +
      "driver-side set difference, ascending") {
    // every supplier ships a line with l_quantity >= 49 at sf0.001, so
    // the graded run is empty; here the even suppliers lose those lines
    val dir = graft.TempDirs.create("graft_set_except")
    Tables.supplier(spark, sfStatic).write.parquet(s"$dir/supplier.parquet")
    Tables.lineitem(spark, sfStatic)
      .filter(col("l_quantity") < 49 || col("l_suppkey") % 2 =!= 0)
      .write.parquet(s"$dir/lineitem.parquet")
    val suppliers = Tables.supplier(spark, dir).select(col("s_suppkey"))
      .collect().map(_.getLong(0)).toSet
    val heavy = Tables.lineitem(spark, dir)
      .select(col("l_quantity"), col("l_suppkey")).collect()
      .filter(_.getDouble(0) >= 49).map(_.getLong(1)).toSet
    val got = SortSetOps.setExcept.run(spark, dir).collect().map(_.getLong(0)).toSeq
    assert(got.nonEmpty, "the derived fixture must make EXCEPT non-empty")
    assert(got == (suppliers -- heavy).toSeq.sorted)
    assert(suppliers.filter(_ % 2 == 0).subsetOf(got.toSet),
      "a supplier with no heavy line left must survive the EXCEPT")
  }
}
