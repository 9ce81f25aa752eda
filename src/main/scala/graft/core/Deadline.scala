package graft.core

import java.util.concurrent.atomic.AtomicBoolean

/** The deadline of the request running on the current thread: a flag its
  * server sets once the request's time is up (`HttpApi.tagged`). Spark
  * job cancellation stops a query only at its next job, so work that runs
  * no job — the driver-local index (graft.shape.LocalEval) and the Gizmo
  * interpreter's loops — polls [[check]] instead. Threads outside a
  * request (specs, the REPL, batch callers) carry no flag and never stop.
  */
object Deadline {
  /** Thrown by [[check]] once the current request's deadline has passed. */
  final class Expired extends RuntimeException("the request's deadline has passed")

  private val current = new ThreadLocal[AtomicBoolean]

  /** The flag of the request running on this thread (null outside one). */
  def flag: AtomicBoolean = current.get

  /** Run `f` with `expired` as this thread's deadline flag. */
  def within[T](expired: AtomicBoolean)(f: => T): T = {
    val prior = current.get
    current.set(expired)
    try f finally current.set(prior)
  }

  /** Throws [[Expired]] when this thread's request is past its deadline. */
  def check(): Unit = {
    val f = current.get
    if (f != null && f.get) throw new Expired
  }
}
