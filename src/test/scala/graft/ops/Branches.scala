package graft.ops

/** Runs a body once under each [[LocalTail]] branch — the measured
  * default (which must pick the local tail) and forced-distributed —
  * and checks that the gate was consulted and honored both times.
  */
object Branches {
  def both[T](body: => T): (T, T) = {
    val (local, ld) = LocalTail.scoped(None)(body)
    assert(ld.nonEmpty && ld.forall(_.branch == LocalTail.Local),
      s"default run did not stay local: $ld")
    val (dist, dd) = LocalTail.scoped(Some(LocalTail.Distributed))(body)
    assert(dd.nonEmpty && dd.forall(_.branch == LocalTail.Distributed),
      s"forced run did not go distributed: $dd")
    (local, dist)
  }
}
