package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Diagnostic main: time the three answers to a hot-key join — AQE
  * skew-split, manual salting, and nothing (static plan) — on the same
  * synthetic skew shape, alternated WITHIN one JVM so host-contention
  * windows can't masquerade as a winner.
  *
  * args: [hotRows] [uniformRows] [reps]
  * Shape: one key holds `hotRows` rows; `uniformRows` spread over 10k
  * keys; right side = 10k+1 keys. Broadcast disabled so the join is a
  * genuine shuffled SMJ — the regime where skew matters.
  *
  * Usage: Test/runMain graft.tools.AqeProbe 4000000 4000000 3
  */
object AqeProbe {
  def main(args: Array[String]): Unit = {
    val hotRows = args.headOption.flatMap(_.toLongOption).getOrElse(4000000L)
    val uniRows = args.drop(1).headOption.flatMap(_.toLongOption)
      .getOrElse(4000000L)
    val reps = args.drop(2).headOption.flatMap(_.toIntOption).getOrElse(3)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")

    def large: DataFrame =
      spark.range(hotRows).select(lit(0L).as("k"), col("id").as("v"))
        .unionAll(spark.range(uniRows)
          .select((col("id") % 10000 + 1).as("k"), col("id").as("v")))
    def right: DataFrame =
      spark.range(10001).select(col("id").as("k"), (col("id") * 7).as("w"))

    def run(mode: String): Double = {
      spark.conf.set("spark.sql.adaptive.enabled",
        (mode != "static").toString)
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled",
        (mode == "aqe").toString)
      // the defaults (256 MB skew floor) never fire at probe scale —
      // scale them to the probe's compressed shuffle sizes so "aqe"
      // measures an ACTUAL split (a handful of ~8 MB chunks), not just
      // adaptive-stage overhead with no skew handling
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "8388608")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "8388608")
      val t0 = System.nanoTime()
      val df = mode match {
        case "salted" =>
          graft.ops.Skew.saltedJoin(large, right, "k", salts = 32)
        case _ => large.join(right, Seq("k"))
      }
      // run THIS DataFrame's own query execution (toRdd.count leaves
      // rows distributed and finalizes the adaptive plan on the same
      // QueryExecution object we inspect below)
      val qe = df.queryExecution
      val n = qe.toRdd.count()
      val t = (System.nanoTime() - t0) / 1e9
      require(n == hotRows + uniRows, s"lossless check failed: $n")
      if (mode == "aqe")
        require(qe.executedPlan.toString.contains("skew=true"),
          "aqe mode must actually split the hot partition — raise the " +
            "probe size or lower the thresholds")
      t
    }

    // warm-up round (JIT + codegen), then alternate modes per rep
    Seq("aqe", "salted", "static").foreach(run)
    println(f"[aqe] hot=$hotRows uniform=$uniRows reps=$reps")
    for (rep <- 1 to reps; mode <- Seq("aqe", "salted", "static")) {
      val t = run(mode)
      println(f"[aqe] rep$rep $mode%-7s $t%6.2f s")
    }
    spark.stop()
  }
}
