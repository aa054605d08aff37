package graft.lake

/** The MV BASIS NOTES — the one codec for the commit notes through
  * which every MV kind records the base snapshot(s) its content
  * reflects: `<prefix>-basis-<n>[-<n>…][-<mode>]`, stamped on the very
  * commit that lands the content, so state and basis are atomic and a
  * rollback of the MV table rolls its basis back with the data.
  *
  * Prefixes: `mv` (single kind), `mmv` (min/max), `jmv` (join: the
  * fact snapshot, then one per dimension), `dmv` (the visible view of
  * every distinct kind) and one per hidden distinct state — `dmvs`
  * (exact), `bmvs` (bitmap), `hmvs` (HLL). The mode names the
  * maintenance path that landed the commit; the join kind writes none,
  * and pre-suffix min/max notes carry none either.
  */
object MvBasis {

  val Single = "mv"
  val MinMax = "mmv"
  val Join = "jmv"
  val Distinct = "dmv"
  val ExactState = "dmvs"

  /** A parsed note: the basis snapshots, first-first, and the mode
    * ("" when the note names none).
    */
  final case class Note(snaps: Seq[Int], mode: String)

  /** The note text for `snaps` under `prefix`. */
  def note(prefix: String, snaps: Seq[Int], mode: String = ""): String =
    s"$prefix-basis-${snaps.mkString("-")}" + (if (mode.isEmpty) "" else s"-$mode")

  private val noteRe = "^([a-z]+)-basis-(\\d+(?:-\\d+)*)(?:-([a-z]+))?$".r

  private def parse(prefix: String, note: String): Option[Note] = note match {
    case noteRe(`prefix`, snaps, mode) =>
      Some(Note(snaps.split('-').toSeq.map(_.toInt), Option(mode).getOrElse("")))
    case _ => None
  }

  /** The newest `prefix` note the head of `root` reflects — one
    * [[LakeTable.findContentNote]] walk: maintenance commits and
    * retention holes are stepped over, a rollback jumps to the snapshot
    * it restored.
    */
  private def find(root: String, prefix: String): Option[Note] =
    LakeTable.findContentNote(root)(parse(prefix, _))

  /** [[find]], failing pointedly on a table with no snapshot or no
    * such note in its live chain.
    */
  def of(root: String, prefix: String): Note = {
    require(LakeTable.currentSnapshot(root) > 0, s"$root has no MV state")
    find(root, prefix).getOrElse(sys.error(
      s"$root carries no $prefix-basis note in its live chain — not an " +
        "MV of that kind (or its basis commits were expired)"))
  }

  /** The mode of the newest `prefix` note, `?` when there is none. */
  def mode(root: String, prefix: String): String =
    find(root, prefix).map(_.mode).filter(_.nonEmpty).getOrElse("?")

  /** (state snapshot, fact basis that snapshot reflects) of a hidden
    * state table, read CONSISTENTLY: the head is re-checked after the
    * note walk, so the pair describes one state incarnation even if a
    * refresh commits mid-read. The rewrite rule's state tiers carry
    * this pair on the candidate and pin their state scans to it —
    * validating against live heads at serve time would be a TOCTOU (a
    * refresh landing between validation and serve advances state and
    * visible bases together, passes a live-alignment check, and leaks
    * newer state rows into a read pinned at the older fact snapshot).
    */
  def pinned(stRoot: String, prefix: String): Option[(Int, Int)] = {
    var attempts = 0
    while (attempts < 3) {
      val snap = scala.util.Try(LakeTable.currentSnapshot(stRoot))
        .getOrElse(return None)
      if (snap <= 0) return None
      val b = scala.util.Try(find(stRoot, prefix).get.snaps.head)
        .getOrElse(return None)
      if (LakeTable.currentSnapshot(stRoot) == snap) return Some((snap, b))
      attempts += 1
    }
    None
  }
}
