package graft

import org.apache.spark.sql.functions._
import graft.operators.SubstringDedup

/** Ad-hoc measurement for the reference's minlen operating range
  * (workflow_v1.sh minlen=500, workflow_pileval.sh minlen=200, ablation
  * configs up to 1000): times the default per-minLen sort-scan at each
  * minLen on the jsonl bench fixture -- every window at minLen <= 32,
  * anchor-sampled candidates above (40, 64 and 128 bracket that switch).
  * Results recorded in BASELINE.md.
  *
  * Usage: runMain graft.MinLenSweep  (env: SWEEP_DOCS)
  */
object MinLenSweep {
  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.getOrElse("SWEEP_DOCS", "50000").toInt
    val minLens = Seq(32, 40, 64, 128, 200, 500, 1000)
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    def timed[A](what: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[sweep] $what%-40s $sec%8.2f s")
      (a, sec)
    }

    val inDir = s"/dev/shm/graft-fixtures/jsonl-in-$nDocs"
    val bytes = sources.JsonlGen.writeTree(spark, inDir, nDocs)
    val docs = JsonlDedupJob.readTree(spark, inDir).localCheckpoint(true)
    System.err.println(f"[sweep] fixture: $nDocs docs, ${bytes / 1e6}%.1f MB")

    // warmup (codegen paths) once, untimed
    SubstringDedup.removeRanges(docs.limit(500), SubstringDedup.Config(500)).count()

    val sortScan = minLens.map { ml =>
      val (n, sec) = timed(s"sort-scan minLen=$ml") {
        SubstringDedup.removeRanges(docs, SubstringDedup.Config(ml))
          .agg(count(lit(1)), sum(col("e") - col("s"))).collect()(0)
      }
      (ml, sec, n.getLong(0), if (n.isNullAt(1)) 0L else n.getLong(1), bytes / 1e6 / sec)
    }

    val ssJson = sortScan.map { case (ml, sec, n, rm, mbs) =>
      f"""{"minlen":$ml,"sec":$sec%.2f,"ranges":$n,"removed_bytes":$rm,"mb_per_sec":$mbs%.2f}"""
    }.mkString("[", ",", "]")
    println(
      f"""{"metric":"minlen_sweep","docs":$nDocs,"text_mb":${bytes / 1e6}%.1f,"sort_scan":$ssJson}""")
    spark.stop()
  }
}
