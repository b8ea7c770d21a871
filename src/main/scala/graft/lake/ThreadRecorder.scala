package graft.lake

import scala.collection.mutable.ArrayBuffer

/** Events of one kind recorded on the calling thread only: what a caller
  * reads back is what its own work did, never another thread's or
  * session's. Catalog scans decide at plan time, so planning a query on
  * a thread is enough to record its decisions there.
  */
final class ThreadRecorder[A] {
  private val current = new ThreadLocal[ArrayBuffer[A]]

  /** Record `a` for the enclosing [[recorded]] on this thread, if any. */
  def add(a: A): Unit = Option(current.get).foreach(_ += a)

  /** The events recorded on the calling thread while `body` ran, in
    * order. A nested `recorded` also reports its events to the enclosing
    * one.
    */
  def recorded(body: => Any): Seq[A] = {
    val outer = current.get
    val mine = ArrayBuffer.empty[A]
    current.set(mine)
    try body
    finally {
      current.set(outer)
      if (outer != null) outer ++= mine
    }
    mine.toSeq
  }
}
