package perfbench

import java.io.File

import org.apache.spark.sql.functions.{col, when}

import graft.{ScaleData, Sessions}

/** Input generator of the `suite_sf0.1` workload: the ten tables in the
  * sf0.1 testdata's shape (TESTDATA.md: 5,000 documents, 2,000 vectors,
  * 100,000 events, 150,000 orders). `ScaleData` generates them; two are then
  * aligned with the testdata schema (`l_linenumber` and `label` as INT, and
  * the `l_linestatus` column ScaleData does not write).
  *
  * Usage: Inputs <dir>
  */
object Inputs {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val stage = s"$dir/_stage"
    ScaleData.main(Array(stage, "5000", "2000", "1", "100000", "150000"))
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = Sessions.build(s"local[$cpus]", cpus, "perfbench-inputs")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "events", "documents").foreach { t =>
      spark.read.parquet(s"$stage/$t.parquet").coalesce(1)
        .write.parquet(s"$dir/$t.parquet")
    }
    spark.read.parquet(s"$stage/lineitem.parquet")
      .withColumn("l_linenumber", col("l_linenumber").cast("int"))
      // TPC-H's rule: lines shipped after the 1995-06-17 cutoff are open
      .withColumn("l_linestatus",
        when(col("l_shipdate") > "1995-06-17", "O").otherwise("F"))
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    spark.read.parquet(s"$stage/embeddings.parquet")
      .withColumn("label", col("label").cast("int"))
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    spark.stop()
    deleteTree(new File(stage))
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
