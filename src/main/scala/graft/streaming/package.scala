package graft

package object streaming {

  /** `body`'s result and its wall-clock seconds — the gates' per-stage
    * timing (a driver-side clock read around each stage's eager action).
    */
  private[streaming] def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}
