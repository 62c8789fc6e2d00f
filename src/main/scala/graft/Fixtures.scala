package graft

import org.apache.spark.sql.SparkSession

import graft.operators.{Features, TextDedup}
import graft.sources.Tables
import graft.streaming.StreamRegistry

/** The session-shared fixtures: frames, tapes and trained artifacts
  * that several registry keys ride, each built once per (session,
  * sfDir) through [[SessionFrameCache]]. A build here makes the same
  * call as the registry sites (same corpus key, same hyperparameters),
  * so those sites then hit the memo. Bench and Sf1Smoke build them
  * before their clocks and report each build as a `fixture:*` row, so
  * per-query numbers are marginal cost. */
object Fixtures {
  val all: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    // the D66 slot chain
    ("slot_chain", (s, d) => {
      Features.slotChain(Tables.ticks(s, d), SparkEntry.tensorSlots,
        0.6, 0.2, Some(d)).errs.count(); ()
    }),
    // the D84 GD fit
    ("gd_fit", (s, d) => {
      Features.gdFit(Tables.ticks(s, d), SparkEntry.tensorSlots, 2, 4,
        0.0625, 0.6, 0.2, Some(d)).errs.count(); ()
    }),
    // the F71/F74 pair census
    ("pair_census", (s, d) => {
      TextDedup.pairCensus(Tables.documents(s, d), d).count(); ()
    }),
    // F7d serving artifact: the trained coarse-quantizer centroids
    // (k·dim floats) — at 100 TB an ingest-time product; prebuilt so
    // q_ann_ivf_served prices the read path only
    ("ivf_cents", (s, d) => { SparkEntry.servedIvfCentroids(s, d); () }),
    // the tick tape the q_stream_* drives replay (29 consumers)
    ("stream_tape", (s, d) => { StreamRegistry.warmTape(s, d); () }),
    // the orders tape (G30 + G36 drive it)
    ("order_tape", (s, d) => { StreamRegistry.warmOrderTape(s, d); () }))

  /** The fixture registered as `name`. */
  def apply(name: String): (SparkSession, String) => Unit =
    all.collectFirst { case (`name`, build) => build }
      .getOrElse(sys.error(s"unknown fixture $name"))
}
