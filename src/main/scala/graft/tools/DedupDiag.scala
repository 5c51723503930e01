package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage-volume diagnostic for the dedup scaling probes:
  * `runMain graft.tools.DedupDiag <sfDir>` prints the row counts that set
  * each pipeline's cost — banded candidate pairs and verified output for
  * dedup_ngram_jaccard; gram / df≥2 / duplicated-position volumes for
  * dedup_substring — so a probe-time bend attributes to a concrete stage
  * (candidate explosion vs verify vs window) instead of a guess.
  */
object DedupDiag {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(s"DIAG $label took ${(System.nanoTime() - t0) / 1e9}s"); r
    }

    val docs = graft.Tables.t(spark, dir, "documents")
    println(s"DIAG docs ${docs.count()}")

    // ngram family: shared banded candidates, then the declared verify
    val cand = t("banded_candidates_build") {
      graft.queries.DedupQ.bandedCandidates(spark, dir)
    }
    println(s"DIAG banded_candidate_pairs ${cand.count()}")
    val out = t("ngram_verify") {
      graft.SparkEntry.queries("dedup_ngram_jaccard")(spark, dir).count()
    }
    println(s"DIAG ngram_output_pairs $out")

    // substring stages (mirrors the declared pipeline's shapes)
    val L = 40
    val grams = graft.Tables.spread(docs, "doc_id")
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN length(text) < $L THEN array()
            ELSE transform(sequence(1, length(text) - ${L - 1}),
                           i -> substr(text, i, $L)) END"""))
        .as(Seq("pos0", "g")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"),
        graft.functions.Hashing.md5Hash32(col("g")).as("h"))
      .localCheckpoint()
    println(s"DIAG substring_gram_rows ${grams.count()}")
    val dupFps = t("substring_df_agg") {
      grams.groupBy(col("h"))
        .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
        .filter(col("d0") =!= col("d1")).select(col("h")).localCheckpoint()
    }
    println(s"DIAG substring_dup_hashes ${dupFps.count()}")
    val dupPos = t("substring_dup_join") {
      grams.join(dupFps, "h").localCheckpoint()
    }
    println(s"DIAG substring_dup_positions ${dupPos.count()}")
    spark.stop()
  }
}
