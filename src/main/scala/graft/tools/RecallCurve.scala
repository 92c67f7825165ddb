package graft.tools

import graft.Sessions
import graft.operators.Similarity

/** Dev tool: dump the ANN tuning evidence (ANN_RECALL.json) — the IVF
  * recall@k-vs-probes curve and the LSH signature-width sweep, per scale
  * factor. These are the same oracle-gated queries the catalog ships
  * (`sim_ivf_recall`, `sim_lsh_sweep`); this tool just runs them across
  * corpora and formats one committed JSON artifact.
  *
  * Usage: runMain graft.tools.RecallCurve <outPath> <sfDir> [...more dirs]
  */
object RecallCurve {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RecallCurve <outPath> <sfDir> [...]")
    val out = args(0)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))

    def rows(df: org.apache.spark.sql.DataFrame): String = {
      val cols = df.columns
      df.collect().sortBy(_.getLong(0))
        .map(r => cols.zipWithIndex
          .map { case (c, i) => s""""$c": ${r.getLong(i)}""" }
          .mkString("{", ", ", "}"))
        .mkString("[", ", ", "]")
    }

    val perDir = args.drop(1).map { dir =>
      // The STORED-index form (r13): the curve a production corpus
      // actually measures — against the partitioned inverted-list
      // layout it serves queries from. StoredIndexSpec proves it row-equal
      // to the recompute form, so the published values are unchanged;
      // what changes is what the tool exercises (build + probe path).
      val ivf = rows(Similarity.simIvfRecallIdx(spark, dir))
      val lsh = rows(Similarity.simLshSweep(spark, dir))
      val sf = dir.split('/').last
      s""""$sf": {"ivf_recall_at_${Similarity.IvfTopK}": $ivf, "lsh_width_sweep": $lsh}"""
    }

    val doc =
      s"""{
         |  "what": "ANN tuning evidence: sim_ivf_recall_idx (recall@${Similarity.IvfTopK} vs probe count over the STORED partitioned inverted lists — the layout a production corpus serves queries from; values row-equal to the recompute form per StoredIndexSpec; ${Similarity.IvfQueries} queries, ${Similarity.NumIvfPivots} lists; full-depth row = exhaustive scan, recall 1000 by construction) and sim_lsh_sweep (hyperplane signature width vs candidate volume and threshold-pair retention, anchored at the coarsest width; n_dropped_vecs counts vectors in over-cap coarse buckets — 0 on these corpora). Both are oracle-gated catalog queries; regenerate with: tools/run.sh graft.tools.RecallCurve ANN_RECALL.json <sfDir>...",
         |  "defaults": {"ivf_probes": ${Similarity.IvfProbes}, "lsh_planes": ${Similarity.NumLshPlanes}, "lsh_threshold": ${Similarity.LshThreshold}},
         |  ${perDir.mkString(",\n  ")}
         |}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      doc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"RECALLCURVE wrote $out")
    spark.stop()
  }
}
