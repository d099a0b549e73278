package graft.sources

import java.io.File
import graft.{SparkEntry, SparkSpec}

/** The stored-artifact store: a killed writer's leftover is rebuilt, a
  * concurrent winner's copy is adopted, a complete artifact is never
  * rebuilt, and no process-private tmp dir outlives a call.
  */
class FixturesSpec extends SparkSpec {

  private val root = new File(sys.props("java.io.tmpdir"), "graft_fixtures")
  private val pid = ProcessHandle.current().pid()
  private def dir = sf("sf0.001")

  private def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  /** A tag no other run shares, and its on-disk dir (removed afterwards). */
  private def withKey(name: String)(body: (String, File) => Unit): Unit = {
    val tag = s"fixtures_spec_${name}_${java.util.UUID.randomUUID().toString.take(8)}"
    val path = new File(root, s"${tag}_${Tables.contentStamp(dir, "region")}")
    try body(tag, path) finally rm(path)
  }

  private def tmpSiblings(path: File): Seq[String] =
    Option(root.list()).toSeq.flatten.filter(_.startsWith(s".${path.getName}.tmp."))

  private def complete(f: File): Boolean = new File(f, "_SUCCESS").exists()

  test("a dir left without _SUCCESS by a killed writer is rebuilt and read back") {
    withKey("stale") { (tag, path) =>
      spark.range(3).toDF("stale").write.parquet(path.toString)
      new File(path, "_SUCCESS").delete()
      new File(path, "._SUCCESS.crc").delete()
      assert(path.list().exists(_.startsWith("part-")) && !complete(path))
      val got = Fixtures.stored(spark, dir, "region", tag)(Tables.region(spark, dir))
      assert(got.columns.toSeq == Tables.region(spark, dir).columns.toSeq)
      assert(got.count() == Tables.region(spark, dir).count())
      assert(complete(path))
      assert(tmpSiblings(path).isEmpty)
    }
  }

  test("a complete copy installed by a concurrent builder wins the race") {
    withKey("race") { (tag, path) =>
      val got = Fixtures.stored(spark, dir, "region", tag) {
        spark.range(7).toDF("winner").write.parquet(path.toString)
        Tables.region(spark, dir)
      }
      assert(got.columns.toSeq == Seq("winner"))
      assert(got.count() == 7)
      assert(tmpSiblings(path).isEmpty)
    }
  }

  test("a complete artifact is read back without evaluating build") {
    withKey("reuse") { (tag, path) =>
      var builds = 0
      def call() = Fixtures.stored(spark, dir, "region", tag) {
        builds += 1
        Tables.region(spark, dir)
      }
      val first = call().collect().toSeq
      val second = call().collect().toSeq
      assert(builds == 1)
      assert(first.sortBy(_.toString) == second.sortBy(_.toString))
      assert(complete(path))
    }
  }

  test("SparkEntry.ensureFixtures installs every artifact complete, no tmp dir left") {
    SparkEntry.ensureFixtures(spark, dir)
    val byTable = Map(
      "embeddings" -> Seq("knn_graph_k10i3_v1", "knn_graph_k10i2_v1",
        "knn_graph_old_k10i2_v1", "ann_ivf8_raw_v2", "ann_ivf4_norm_v2",
        "ann_ivf8_norm_v2", "ann_pq8_raw_v2", "ann_pq16_norm_v2",
        "ann_pq64_norm_v2", "ann_audit_pairs_v3"),
      "lineitem" -> Seq("n2v_walks_s3p1q4_v1", "supply_edges_v1",
        "supply_degree_edges_v1", "supply_nodes_v1", "supply_pagerank5_v1",
        "basket_edges_v1"),
      "documents" -> Seq("star_clusters_sh5_j50_v1", "cdc_chunks_w4d8_v1",
        "cdc_arrivals_3b_v1"))
    val keys = byTable.toSeq.flatMap { case (table, tags) =>
      val stamp = Tables.contentStamp(dir, table)
      tags.map(t => s"${t}_$stamp")
    }
    assert(keys.size == 19)
    keys.foreach(k => assert(complete(new File(root, k)), k))
    assert(!root.list().exists(_.endsWith(s".tmp.$pid")))
  }
}
