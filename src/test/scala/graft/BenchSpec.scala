package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

/** graft.Bench's fixed DuckDB window and its one baseline source. */
class BenchSpec extends AnyFunSuite {

  // the oracles the window leaves out for stalling (see Bench.oracleWindow)
  private val stalls = Seq("q41_embedding_near_dup", "q145_semantic_leakage",
    "q49_dup_clusters", "q61_lsh_near_dup", "q56_kmeans_codebook",
    "q45_ivf_ann", "q74_semdedup", "q103_hard_negatives", "q109_ann_recall",
    "q149_knn_graph", "q151_semantic_clusters", "q153_inbatch_collisions",
    "q171_pagerank", "q199_triangles", "q205_hits", "q206_knn_classifier",
    "q214_kcore", "q215_mrr_eval", "q220_bfs_hops", "q221_ndcg_eval",
    "q233_assortativity", "q234_negative_sampling", "q236_two_hop",
    "q242_clustering_coef", "q249_cheapest_path", "q250_conductance",
    "q273_modularity", "q291_harmonic_seeds", "q298_knn_hubness")

  test("the oracle window names 60+ oracles from every query module " +
      "and none of the known stalls") {
    val w = Bench.oracleWindow
    assert(w.distinct.size == w.size, "duplicate window names")
    assert(w.size >= 60, s"${w.size} window queries")
    val missing = w.filterNot(SparkEntry.oracleSql.contains)
    assert(missing.isEmpty, s"not oracle-checked: $missing")
    val modules = Seq(
      "RefQueries" -> queries.RefQueries.defs,
      "RefQueries2" -> queries.RefQueries2.defs,
      "GoldQueries" -> queries.GoldQueries.defs,
      "TextQueries" -> queries.TextQueries.defs,
      "DedupQueries" -> queries.DedupQueries.defs,
      "SimilarityQueries" -> queries.SimilarityQueries.defs,
      "ExtQueries" -> queries.ExtQueries.defs,
      "AnalyticsQueries" -> queries.AnalyticsQueries.defs,
      "TrainingDataQueries" -> queries.TrainingDataQueries.defs,
      "ProfilingQueries" -> queries.ProfilingQueries.defs,
      "OpsQueries" -> queries.OpsQueries.defs,
      "EvalQueries" -> queries.EvalQueries.defs)
    modules.foreach { case (module, defs) =>
      assert(defs.exists(d => w.contains(d.name)),
        s"$module contributes no window query")
    }
    assert(stalls.forall(SparkEntry.oracleSql.contains))
    assert(stalls.filter(w.contains).isEmpty)
  }

  test("the bench baseline comes only from the committed seed") {
    val sf = "/root/testdata/sf0.1"
    val seed = Bench.baseline(sf)
    assert(seed.times.size > 300 && seed.plans.nonEmpty &&
      seed.canaries.nonEmpty)
    assert(seed.times("q01_group_agg") == 0.253)
    // another machine's fixture layout matches by basename; another sf
    // loads nothing
    assert(Bench.baseline("/elsewhere/sf0.1") == seed)
    assert(Bench.baseline("/root/testdata/sf0.01") ==
      Bench.Baseline(Map.empty, Map.empty, Seq.empty))
    // a working-dir bench_queries.json (a local run's output) changes
    // nothing, whatever its times or sf
    val local = Paths.get("bench_queries.json")
    val saved = Files.createTempFile("bench_queries", ".json")
    val had = Files.exists(local)
    if (had) Files.copy(local, saved, StandardCopyOption.REPLACE_EXISTING)
    try {
      Seq("sf0.1", "sf0.01").foreach { other =>
        Files.write(local, ("""{"metric":"total","value":1.0,"unit":"sec",""" +
          """"canaries":[9.0],"queries":{"q01_group_agg":99.0},""" +
          s""""plans":{"q01_group_agg":"ffffffff"},"sf":"/x/$other"}""")
          .getBytes(UTF_8))
        assert(Bench.baseline(sf) == seed)
        assert(Bench.baseline(s"/x/$other").times.get("q01_group_agg")
          .forall(_ == 0.253))
      }
    } finally {
      if (had) Files.copy(saved, local, StandardCopyOption.REPLACE_EXISTING)
      else Files.deleteIfExists(local)
      Files.deleteIfExists(saved)
    }
  }
}
