package graft.sources

import java.io.File

/** Throwaway directories: the engine's one recursive delete and its one
  * JVM-exit hook.
  *
  * A scratch directory has one of two lifetimes:
  *  - [[deleteAtExit]]: a returned DataFrame still reads its files lazily,
  *    so it must outlive the call. It is deleted when the JVM exits,
  *    through a single shutdown hook; registering the same directory again
  *    is a no-op, so per-call registration cannot pile up hooks.
  *  - [[using]]: only the call itself reads it (a replay's staged input or
  *    checkpoint), so it is deleted as soon as the call's body returns or
  *    throws.
  */
private[graft] object Scratch {

  private val atExit = java.util.concurrent.ConcurrentHashMap.newKeySet[File]()
  private lazy val hook = sys.addShutdownHook(atExit.forEach(f => delete(f)))

  /** Recursive delete; a missing path is a no-op. */
  def delete(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delete))
    f.delete(): Unit
  }

  /** Register `dir` for deletion at JVM exit and return it. */
  def deleteAtExit(dir: File): File = {
    hook
    atExit.add(dir)
    dir
  }

  /** `dir` under the JVM temp dir, deleted at JVM exit. */
  def tmpDir(name: String): File =
    deleteAtExit(new File(sys.props("java.io.tmpdir"), name))

  /** Run `body`, then delete `dirs` whether it returned or threw. */
  def using[T](dirs: File*)(body: => T): T =
    try body finally dirs.foreach(delete)

  /** `prefix_<32 hex digits>`: unique per call. */
  def uniqueName(prefix: String): String =
    prefix + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
}
