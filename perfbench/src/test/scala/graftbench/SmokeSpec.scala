package graftbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Each workload end to end at the tiny size, traced, so the untraced
  * figures and every layer figure come out of one run.
  */
class SmokeSpec extends AnyFunSuite {

  private def run(wl: Workload, seed: Long): Map[String, Any] = {
    Files.createDirectories(Paths.get("target"))
    val work = Files.createTempDirectory(Paths.get("target"), s"smoke-${wl.name}")
    try Run(wl, seed, seconds = 0.0, trace = true, work, Sizes.tiny, cores = 2).go()
    finally Fs.rmTree(work)
  }

  private def metrics(r: Map[String, Any], key: String): Map[String, Double] =
    r(key).asInstanceOf[Map[String, Map[String, Any]]]
      .map { case (k, v) => k -> v("value").asInstanceOf[Double] }

  Workloads.all.foreach { wl =>
    test(s"${wl.name}: every check passes and every metric is reported") {
      val r = run(wl, seed = 7)
      assert(r("problems") == Nil)
      assert(r("correct") == true)
      assert(r("failed") == 0)
      val e2e = metrics(r, "end_to_end")
      assert(e2e.keySet == Set("job_s", "rows_per_s", "setup_s",
        "heap_peak_mb", "out_files", "out_bytes_ratio"))
      assert(e2e.values.forall(_ > 0))
      val layers = metrics(r, "per_layer")
      assert(layers.keySet == LayerMetrics.units.keySet)
      assert(layers("session.jobs") > 0)
      assert(layers("sources.scan_s") > 0)
      wl match {
        case NearDupClusters =>
          assert(layers("sinks.write_s") == 0.0)
        case _ =>
          assert(layers("pipeline.plan_s") > 0)
          assert(layers("sinks.files") > 0)
      }
      // the near-dup job clusters; curation clusters in its operators probe
      if (wl == LoadPartitioned) assert(layers("operators.edges") == 0.0)
      else {
        assert(layers("operators.edges") == NearDupClusters.lastEdges.toDouble)
        assert(layers("operators.clusters_jobs") > 0)
      }
    }
  }

  test("near_dup_clusters: the edge count repeats exactly for one seed") {
    val a = metrics(run(NearDupClusters, seed = 11), "per_layer")("operators.edges")
    val b = metrics(run(NearDupClusters, seed = 11), "per_layer")("operators.edges")
    assert(a > 0 && a == b)
  }
}
