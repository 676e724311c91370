package graft.perfbench

/** Host sentinel: fixed-work probes that measure the machine, not the
  * program. Same kind of work as ScalingBench.control (xorshift integer
  * loop, registers only) and ScalingBench.controlMem (cache-line-stride
  * pass over a large long array), run on plain JVM threads so they cost no
  * Spark job and finish in well under a second.
  *
  * Each probe runs on one thread and on `threads` threads at the same
  * time, each thread doing the same fixed work, three times each; the
  * fastest of each is kept, so a momentary blip does not count. On a
  * quiet host the parallel pass takes about as long as the single one;
  * when other processes hold the cores the parallel pass slows by the
  * share they take. `efficiency` = t(1 thread) / t(n threads) is that
  * ratio, and a run is flagged contended when either probe, before or
  * after the run, falls below its threshold.
  */
object Host {

  /** Thresholds sit below the efficiencies a quiet shared 4-core host
    * shows (CPU ≈ 0.85–1.0, memory ≈ 0.5–0.8); a CPU hog on every core
    * drives the CPU probe to ≈ 0.5.
    */
  val CpuEffMin = 0.75
  val MemEffMin = 0.4

  final case class Probe(cpuS: Double, cpuEff: Double,
                         memS: Double, memEff: Double) {
    def contended: Boolean = cpuEff < CpuEffMin || memEff < MemEffMin
  }

  private val CpuIters = 60000000L
  private val MemLongs = 4 << 20 // 32 MB per thread
  private val MemPasses = 64

  private def cpuWork(seed: Long): Long = {
    var x = seed * 2654435761L + 1
    var acc = 0L
    var k = 0L
    while (k < CpuIters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; k += 1
    }
    acc
  }

  private def memWork(a: Array[Long]): Long = {
    var acc = 0L
    var pass = 0
    while (pass < MemPasses) {
      var k = pass % 8
      while (k < a.length) { acc ^= a(k); k += 8 } // one read per line
      pass += 1
    }
    acc
  }

  /** Wall seconds for `n` threads each running `work(i)` at once. */
  private def parallel(n: Int)(work: Int => Long): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val ts = (0 until n).map(i => new Thread(() => {
      sink.addAndGet(work(i)); ()
    }))
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  private def best(f: => Double): Double = Seq.fill(3)(f).min

  def probe(threads: Int): Probe = {
    parallel(1)(i => cpuWork(i)) // JIT warm-up, untimed
    val cpu1 = best(parallel(1)(i => cpuWork(i)))
    val cpuN = best(parallel(threads)(i => cpuWork(i)))
    val arrays = Array.tabulate(threads) { i =>
      val a = new Array[Long](MemLongs)
      var j = 0
      while (j < a.length) { a(j) = i + j; j += 1 }
      a
    }
    memWork(arrays(0)) // warm-up, untimed
    val mem1 = best(parallel(1)(i => memWork(arrays(i))))
    val memN = best(parallel(threads)(i => memWork(arrays(i))))
    Probe(cpuN, cpu1 / cpuN, memN, mem1 / memN)
  }
}
