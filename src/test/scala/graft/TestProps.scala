package graft

/** Test-scope system-property dials, each saved and restored around
  * its body. */
object TestProps {

  /** Run `body` with the `graft.maxControlRows` control-read cap set to
    * `cap` (forcing the over-cap routes at toy batch sizes), then
    * restore the previous value, or its absence. */
  def withControlCap[A](cap: Int)(body: => A): A = {
    val key = "graft.maxControlRows"
    val prev = sys.props.get(key)
    sys.props(key) = cap.toString
    try body
    finally prev match {
      case Some(v) => sys.props(key) = v
      case None => sys.props -= key
    }
  }
}
