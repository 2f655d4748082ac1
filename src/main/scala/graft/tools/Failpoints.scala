package graft.tools

/** One-shot crash injection for the exactly-once land sequences — the
  * storage-engine failpoint pattern: specs arm a named point, the next
  * pass through it throws (and disarms, so the REPLAY runs through),
  * and the test proves recovery converges to the batch answer. The
  * two-land epoch protocols (de-side-before-marker in
  * `StreamBitextIndex`, membership-before-adjacency in
  * `StreamGraphIndex`, tmp→rename→marker in `StreamShardedExport`)
  * are correct by construction; these make "a crash between the lands
  * recovers" a TESTED property instead of a narrated one.
  *
  * Every land publishes through the one commit seam,
  * [[graft.storage.Publish]]: a hidden attempt-unique tmp, then one
  * rename or link. A point at the end of a write closure
  * (`target.before-move`, `sharded.after-tmp-write`) therefore crashes
  * exactly where a killed process would leave a hidden tmp and nothing
  * published. The seam relies on local-filesystem semantics — a
  * directory rename onto a non-empty directory fails, a file rename
  * replaces, a hard link is exclusive — which an object-store backend
  * must replace with conditional puts and a manifest/pointer object;
  * these points are where that substitute gets tested.
  *
  * Production cost: one concurrent-set lookup per epoch land, on an
  * always-empty set. Never armed outside tests.
  */
private[graft] object Failpoints {

  final class InjectedCrash(name: String)
    extends RuntimeException(s"failpoint crash: $name")

  private val armed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Arm `name`: the next [[hit]] throws once, then the point is clear. */
  def arm(name: String): Unit = { armed.add(name); () }

  /** Clear `name` without firing (test teardown hygiene). */
  def disarm(name: String): Unit = { armed.remove(name); () }

  /** Crash here iff armed — one-shot, so the replay passes through. */
  def hit(name: String): Unit =
    if (armed.remove(name)) throw new InjectedCrash(name)
}
