package graft.etl

/** ONE harness hook for every session memo (VERDICT r16 item 1): the
  * bench / TimeQuery / ScaleCheck rep boundaries clear ALL memoized
  * frames — every [[SessionMemo]] registers itself on construction
  * (today the components closure and LSH pair frame of [[Dedup]] and
  * the quality-trainer artifact of [[QualityTrain]]) — so per-query
  * timings price the full build, not a warm downstream read. Each
  * memo's reliable-checkpoint files are deleted on clear (the
  * [[SessionMemo]] contract); frames obtained before a clear must not
  * be re-read. Production sessions never call this — they rely on
  * data-fingerprint eviction.
  */
object Memos {
  def clearAll(): Unit = SessionMemo.clearAll()
}
