package graft.store

import graft.ts.Grid

/** Chunk-store configuration — the reference's frozen class attributes
  * `STORE_TZ`, `STORE_FREQ`, `CHUNK_AXIS`, `ALLOW_CLIENT_SERVER_SYNC`
  * (hostore/models/chunk_timeserie_store.py:180-243; validation :222-243,
  * freeze semantics :25,:173-177). Validation happens at construction —
  * the Scala analogue of the metaclass check at subclass-creation time.
  */
sealed trait ChunkAxis { def name: String }
case object YearAxis      extends ChunkAxis { val name = "year" }
case object YearMonthAxis extends ChunkAxis { val name = "year_month" }

final case class StoreConfig(
    freq: String = "1h",
    tz: String = "Europe/Paris",
    chunkAxis: ChunkAxis = YearMonthAxis,
    syncEnabled: Boolean = false) {

  /** Fixed grid step in seconds; rejects unsupported offsets eagerly
    * (reference `_validate_settings`, chunk_timeserie_store.py:222-243).
    */
  val freqSecs: Long = Grid.freqSeconds(freq)
  require(freqSecs > 0, s"invalid freq $freq")
  // Validate tz eagerly — bad IANA names must fail at definition time.
  java.time.ZoneId.of(tz)
}
