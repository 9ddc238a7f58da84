package perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import graft.core.Sessions
import graft.pipeline.Pipeline
import graft.queries.Registry

/** Inputs for perfbench/make_goldens.py:
  *
  *   perfbench.Goldens <dataDir> <workDir> <out.json>
  *
  * writes `{"sql": {query: oracle SQL}, "tiers": {"tier.<job>": rows}}`
  * for the benchmark's queries. The SQL is run by DuckDB, not here;
  * the tier row counts come from a from-scratch night over `dataDir`
  * in a fresh store, the reference a merged tier is checked against. */
object Goldens {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, workDir, out) = args
    sys.props("graft.graphstore.dir") = s"$workDir/store"
    val spark = Sessions.local(cores = Runtime.getRuntime.availableProcessors, appName = "perfbench-goldens")
    val results = Pipeline.run(spark, Main.nightJobs(dataDir), LocalDate.of(2026, 8, 11), s"$workDir/runlog")
    require(results.forall(_.status == Pipeline.Succeeded), s"from-scratch night failed: $results")
    val sql = (Main.Analytics ++ Main.Corpus).map(q => Main.quote(q) + ":" + Main.quote(Registry.oracleSql(q)))
    val tiers = results.filterNot(_.job == "analyze_raw").map(r => Main.quote("tier." + r.job) + ":" + r.rows)
    Files.writeString(Paths.get(out),
      s"""{"sql":${sql.mkString("{", ",", "}")},"tiers":${tiers.mkString("{", ",", "}")}}""")
    spark.stop()
  }
}
