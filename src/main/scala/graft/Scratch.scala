package graft

/** Process-scoped scratch roots for streaming staging, checkpoints,
  * state stores and shuffle spill.
  *
  * Streaming rows pay one state-store commit (fsync) per store per
  * micro-batch plus staged-file and checkpoint I/O — scaffolding cost,
  * not plan work. On this container the repo disk is ext4 but
  * /dev/shm is a RAM-backed tmpfs, so routing scratch there takes
  * fsync/disk latency out of every drain without touching query
  * semantics; when no usable tmpfs exists the root falls back to
  * `target/` (identical correctness, only latency differs). On a real
  * cluster the same knobs point at local NVMe (`spark.local.dir`) and
  * a durable object store for checkpoints that must survive the
  * driver — the tmpfs default here is the local-mode analogue of
  * "scratch goes on the fast ephemeral tier".
  *
  * Layout: `<root>/graft-scratch/<pid>/<tag>_<seq>`. The pid level
  * lets a fresh JVM sweep dirs left by DEAD processes (kill -9 skips
  * shutdown hooks) without racing live ones; a shutdown hook removes
  * this process's subtree on clean exit.
  */
object Scratch {
  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  private lazy val root: java.io.File = {
    val shm = new java.io.File("/dev/shm")
    val base = if (shm.isDirectory && shm.canWrite) shm
               else new java.io.File("target")
    val r = new java.io.File(base, "graft-scratch")
    r.mkdirs()
    // sweep scratch left by dead JVMs; live pids keep theirs
    Option(r.listFiles()).toSeq.flatten.filter(_.isDirectory).foreach { d =>
      scala.util.Try(d.getName.toLong).toOption.foreach { p =>
        val h = ProcessHandle.of(p)
        if (!h.isPresent || !h.get.isAlive)
          graft.sources.LocalTableStore.deleteTree(d.getPath)
      }
    }
    val mine = new java.io.File(r, ProcessHandle.current().pid().toString)
    mine.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.sources.LocalTableStore.deleteTree(mine.getPath)))
    mine
  }

  /** Fresh empty scratch dir, unique per call within this process. */
  def dir(tag: String): String = {
    val d = new java.io.File(root, s"${tag}_${seq.incrementAndGet()}")
    d.mkdirs()
    d.getPath
  }
}
