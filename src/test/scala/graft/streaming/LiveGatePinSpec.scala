package graft.streaming

import graft.{SparkEntry, SparkSpec}
import graft.multimodal.MediaPinSpec.digest

/** Output pins for every live streaming gate: each declared `*_live`
  * query and `stream_running_tws`, run over a fresh copy of sf0.001.
  * Each digest is [[MediaPinSpec.digest]] of the gate's frame: a SHA-256
  * over its schema and its rows in sorted order. The gates share one
  * live-run scaffold, so a change to how a run is staged, configured,
  * drained or cleaned up must leave every digest here unchanged. */
class LiveGatePinSpec extends SparkSpec {

  /** Gate name → SHA-256 of its output (see [[MediaPinSpec.digest]]). */
  private val Pinned: Map[String, String] = Map(
    "avro_ingest_live" ->
      "7a6b12841a25e07cf76bd33d20c6681867ea7573d022ec7086174f59a613a840",
    "stream_cms_live" ->
      "6766614d0381324b96dd1bbb4f3309862cff65b8c18900794ad5806a87993d00",
    "stream_dedup_live" ->
      "b14fb5a002e0540b82712ea5214876705e79d5f6925118db569a8d6ea9e6ec4c",
    "stream_enriched_live" ->
      "acde7efd0b053e141f1b522562572a3feeb17c6c8ee354490c5a6cabec78982c",
    "stream_ewma_live" ->
      "77457a61a0a4cfbe0749edcf6a0e0a6b9794cace00133742483876536dd27df4",
    "stream_funnel_live" ->
      "6214537d7d8a030284c483c87d6474a57976d3587b2a41ea36f7ee201e513795",
    "stream_kmv_live" ->
      "2e9ca0850dbaf4eff88e9520b65b75aba06198c48338182df5300db5511e682b",
    "stream_running_tws" ->
      "51c83489f445a5d6d242d0271ab1643a86fe7eb950718fdbef168d27faf941eb",
    "stream_sessionized_live" ->
      "a8ed4819959ee75cc58c0c1a7f8959b78aafba8c8491f3a149adbe25e651af65",
    "stream_txlog_live" ->
      "8f5a234aef3c034d220285418593c362df69be3adc3209f0fe8d178bbc757262",
    "stream_windowed_live" ->
      "3be1d5cbf41081d7da02a2ffe05b25438d15add1a9da6ed3764add47fa9601e1",
    "stream_wordcount_live" ->
      "d4ccca72bf27e6c5d01f33de47b4cba73af14dba687fe3db2cbfdc2631aa70a7",
    "warc_ingest_live" ->
      "16b7cf83d47036a893b86e892f07153911902f5a762fe8baf623c15d5d3bd201")

  private lazy val dir = sf0001Copy("graft_livepin_")

  private val gates = SparkEntry.queries.keySet
    .filter(n => n.endsWith("_live") || n == "stream_running_tws")

  test("every declared live gate is pinned") {
    assert(gates == Pinned.keySet)
  }

  Pinned.keys.toSeq.sorted.foreach { name =>
    test(s"$name output matches its pinned digest") {
      val df = SparkEntry.queries(name)(spark, dir)
      assert(df.count() > 0, s"$name is empty")
      val d = digest(df)
      assert(Pinned.get(name).contains(d), s"$name -> \"$d\"")
    }
  }
}
