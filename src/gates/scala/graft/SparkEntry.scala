package graft

import graft.model.MemoryModel
import graft.multimodal.{ImageIo, VideoIo}
import graft.search.Filters
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract: the flagship [[entry]] query and the gate registry.
  * Every gate is one [[Gate]] in its family's file (`TpchGates`,
  * `EventGates`, …); [[queries]] and [[oracleSql]] are the two views of
  * that one list that Bench and Verify read.
  */
object SparkEntry {
  import Filters.{FilterSpec, NV, AV}

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Exercises ingest → sessionize → filter algebra → provenance → view.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val mem = MemoryModel.fromEvents(Tables.events(spark, dir))
    val filtered = mem.where(Filters.compileAll(Seq(
      FilterSpec("tool", "any_of", AV(Seq("click", "view", "purchase"))),
      FilterSpec("value", "after", NV(1.0)))))
    MemoryModel.withProvenance(filtered)
      .select("memory_id", "session_id", "tool", "sequence_order",
        "preceding_memory_id", "preceding_tool")
      .orderBy(col("memory_id").cast("long"))
  }

  /** The r12 rename let the scale-adaptive forms own the unsuffixed names
    * (cluster_dbscan, dedup_semantic, er_scored_pairs) and kept the
    * fixed-parameter forms as `_fixed` twins — but that retired the r11
    * gate NAMES the driver's cross-round tracker follows. The retired
    * names are restored here as aliases of the implementations that now
    * own their semantics (verified byte-identical to the r11 bodies), so
    * the name set only ever grows. Alias → target. */
  private[graft] val aliases = Seq(
    "cluster_dbscan_adaptive" -> "cluster_dbscan",
    "dedup_semantic_sized" -> "dedup_semantic",
    "er_prefix_blocked" -> "er_scored_pairs")

  /** Every gate, family by family, then the aliases. */
  lazy val gates: Seq[Gate] = {
    val base = Seq(TpchGates.gates, EventGates.gates, MemoryGates.gates,
      SearchGates.gates, TextGates.gates, DedupGates.gates,
      ProfileGates.gates, SampleGates.gates, StoreGates.gates,
      StreamGates.gates, GraphGates.gates, ErGates.gates,
      MultimodalGates.gates).flatten
    val byName = base.map(g => g.name -> g).toMap
    base ++ aliases.map { case (alias, target) => byName(target).copy(name = alias) }
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.body).toMap

  lazy val oracleSql: Map[String, String] =
    gates.map(g => g.name -> g.oracleSql).toMap

  /** Fixture archetype exercising every schema.py rendering branch:
    * null-bound param (required), string-bound param (default), binding to
    * an unknown pool name (skipped), empty-string binding (skipped),
    * typed + untyped + required frames, and a tool with no description
    * (falls back to "Tool: <name>", schema.py:124). */
  private[graft] val FixtureArchetypeYaml: String =
    """version: "1.0"
      |title: Fixture
      |parameters:
      |  Mood:
      |    description: "Overall mood"
      |    examples: [calm, tense]
      |  Depth:
      |    description: "How deep to go"
      |tools:
      |  Observe:
      |    description: "Record an observation"
      |    parameters:
      |      Mood:
      |      Depth: "moderate"
      |      Unknown:
      |    frames:
      |      tags:
      |        type: List
      |        required: true
      |      weight:
      |        type: integer
      |      note:
      |  Recall:
      |    parameters:
      |      Mood: ""
      |""".stripMargin

  /** The shared 4-clip × 5-frame AVI fixture — ONE place owns the imgId
    * rule (clip 3 = clip 0's frames shifted by one) so the pooled gate and
    * the per-frame demux gate (whose pins, `MultimodalGates.
    * VideoFramePinned`, are the decoded frames of these clips) can never
    * drift onto different corpora. */
  private[graft] def videoClipAvis: Seq[(Long, Array[Byte])] =
    (0L until 4L).map { clip =>
      val frames = (0 until 5).map { frame =>
        val imgId = if (clip == 3) frame + 1 else clip * 16 + frame
        ImageIo.pngBytes(ImageIo.syntheticImage(imgId.toLong, w = 48, h = 36))
      }
      (clip, VideoIo.aviBytes(frames, w = 48, h = 36))
    }
}
