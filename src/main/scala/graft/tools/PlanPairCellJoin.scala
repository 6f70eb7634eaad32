package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Dev tool (round-19 plan evidence): the ABOVE-THRESHOLD plans of n65,
 * n78 and n81 over a 16k synthetic corpus (the PlanShapeSpec fixture,
 * just past the 3 MiB source threshold). n65 and n81 take the crossover
 * cell join — unsalted pinned shuffled-hash before round 19, salted
 * (cell, salt) since; n78 keeps the plain cell join by design. Diffing
 * this output before and after a refactor checks the cell-join policy of
 * each query. Bench-point plans sit below the threshold.
 *
 * Usage: runMain graft.tools.PlanPairCellJoin
 */
object PlanPairCellJoin {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(8, logLevel = "ERROR")
    val dir = graft.queries.Tables.scratchDir("planpaircell").resolve("emb.parquet")
    val comps = transform(sequence(lit(0), lit(63)), i =>
      (pmod(xxhash64(col("id"), i), lit(1000001L)).cast("double")
        / 1000000.0 - 0.5).cast("float"))
    spark.range(16000).select(col("id").as("vec_id"), comps.as("embedding"),
        lit(0).as("label"))
      .repartition(8).write.mode("overwrite").parquet(dir.toString)
    val big = spark.read.parquet(dir.toString)
    Seq[(String, DataFrame => DataFrame)](
      "n65" -> (graft.ops.Similarity.pqKnnJoin(_)),
      "n78" -> (graft.ops.Similarity.pqKnnJoinRerank(_)),
      "n81" -> (graft.ops.Similarity.pqKnnJoinRerankAdc(_))
    ).foreach { case (name, q) =>
      println(s"----- PLANPAIR $name above-threshold cell join -----")
      q(big).explain("formatted")
    }
    spark.stop()
  }
}
