package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesize a larger scale factor from an existing testdata dir by
  * key-shifted replication: each of the F copies shifts every key
  * column by a copy-sized offset, so referential integrity (orders →
  * customer, lineitem → orders/part/supplier) holds WITHIN each copy
  * and join fan-outs stay realistic — cardinalities scale ×F while
  * per-key selectivities stay flat, which is exactly the shape a
  * whole-suite scale probe needs (ScaleProbe covers the codec kernels;
  * this covers whole-query plans). Document text gets a per-copy
  * suffix so dedup/fingerprint plans see mostly-distinct content
  * instead of an artificial 90% dup rate; n_chars is recomputed.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <dstDir> [factor]
  * The output is a THROWAWAY probe input (e.g. /tmp/sf1.0) — the
  * committed artifact is the bench run over it, not the data.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val f = if (args.length > 2) args(2).toInt else 10
    val spark = Sessions.local()

    val C = 1000000L  // custkey/partkey/suppkey/user/doc/vec stride
    val O = 10000000L // orderkey stride
    val E = 100000000L // event stride

    def rep(name: String, shifts: Map[String, Long],
        parts: Int = 8)(extra: DataFrame => DataFrame = identity)
        : Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val out0 =
        if (shifts.isEmpty && f > 0) base // dims: single copy
        else {
          val exploded = base.withColumn("__k",
            explode(lit((0 until f).toArray)))
          shifts.foldLeft(exploded) { case (df, (c, stride)) =>
            df.withColumn(c, col(c) + col("__k").cast("long") * stride)
          }.drop("__k")
        }
      extra(out0).repartition(parts)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name done")
    }

    rep("region", Map.empty)()
    rep("nation", Map.empty)()
    rep("customer", Map("c_custkey" -> C))()
    rep("supplier", Map("s_suppkey" -> C))()
    rep("part", Map("p_partkey" -> C))()
    rep("orders", Map("o_orderkey" -> O, "o_custkey" -> C))()
    rep("lineitem", Map("l_orderkey" -> O, "l_partkey" -> C,
      "l_suppkey" -> C), parts = 16)()
    rep("events", Map("event_id" -> E, "user_id" -> C))()
    rep("documents", Map("doc_id" -> C)) { df =>
      // per-copy distinct content; n_chars recomputed as the
      // code-point count the generators use
      df.withColumn("text",
        when(pmod(col("doc_id"), lit(C)) =!= col("doc_id"),
          concat(col("text"), lit(" copy"),
            (col("doc_id") / C).cast("long").cast("string")))
          .otherwise(col("text")))
        .withColumn("n_chars",
          length(col("text")).cast(df.schema("n_chars").dataType))
    }
    rep("embeddings", Map("vec_id" -> C))()
    spark.stop()
  }
}
