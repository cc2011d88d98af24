package perfbench

import java.nio.{ByteBuffer, ByteOrder}

/** A fixed, single-threaded measure of how fast this host's memory system
  * answers right now. Shared hosts slow by up to 2× for tens of seconds at
  * a time when neighbours load the memory system, and the engine's ops
  * slow with them; a random-read loop over 64 MiB (larger than the
  * last-level cache) slows the same way, where a loop that stays in
  * registers or in cache slows far less. The closed loop takes one sample
  * just before every op (and every warm restart), once the listener bus is
  * drained, and run.py scales each op's time by its own sample
  * (metrics.REFERENCE_PROBE_NS). The buffer is off-heap, so it never counts
  * as retained heap. */
object HostProbe {
  private val Ints = 1 << 24
  private lazy val buf = {
    val b = ByteBuffer.allocateDirect(Ints * 4).order(ByteOrder.nativeOrder())
    var i = 0
    while (i < Ints) { b.putInt(i * 4, i * 31); i += 1 }
    b
  }
  @volatile private var sink = 0L

  private def pass(seed: Int, reads: Int): Long = {
    val b = buf
    val t0 = System.nanoTime()
    var idx = seed
    var sum = 0L
    var i = 0
    while (i < reads) {
      idx = (idx * 1103515245 + 12345) & (Ints - 1)
      sum += b.getInt(idx * 4)
      i += 1
    }
    sink += sum
    System.nanoTime() - t0
  }

  /** One sample, in nanoseconds: three passes of 100,000 reads at
    * pseudo-random positions, and three times the median pass, so a pass
    * cut by a safepoint or a descheduled thread does not count. */
  def sample(): Long = {
    val passes = Seq(pass(12345, 100000), pass(67890, 100000), pass(13579, 100000)).sorted
    passes(1) * 3
  }

  /** Compiles the loop before any sample counts. */
  def warmUp(): Unit = (0 until 30).foreach(_ => sample())
}
