package perfbench

import java.util.concurrent.{Callable, Executors, ThreadFactory}

/** How fast this machine runs right now.
  *
  * On a shared host the cores' speed drifts by tens of percent over
  * minutes, and it moves the engine's timings with it: other tenants
  * take whole cores (steal: wall grows, CPU time does not) or share them
  * (contention: both grow). A probe runs a fixed, allocation-free loop
  * on every core at once — integer arithmetic and a chase through a
  * 16 MB random cycle, work no engine change can speed up — and records
  * its wall and the CPU seconds its threads used. The harness probes
  * around every timed unit and scores a wall as
  * `wall × NominalWall / median probe wall` and a CPU time as
  * `cpu × NominalCpu / median probe CPU`: the time on a machine whose
  * probe takes the nominal values (about a quiet 4-core machine).
  */
object Speed {
  val NominalWall = 0.06
  val NominalCpu = 0.24

  final case class Probe(wall: Double, cpu: Double)

  private val cores = Runtime.getRuntime.availableProcessors()
  private val pool = Executors.newFixedThreadPool(cores, new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "perfbench-speed")
      t.setDaemon(true)
      t
    }
  })

  /** One random cycle through 4M slots (16 MB, beyond the caches), so
    * chasing it measures memory latency as the engine's hash tables and
    * row copies feel it.
    */
  private val cycle: Array[Int] = {
    val n = 1 << 22
    val a = Array.tabulate(n)(identity)
    val r = new scala.util.Random(1)
    var i = n - 1
    while (i > 0) { // Sattolo: a single cycle
      val j = r.nextInt(i)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** Runs the loop; returns this thread's CPU nanoseconds. */
  private def loop(seed: Long): Long = {
    val c = threads.getCurrentThreadCpuTime
    var x = seed | 1L
    var i = 0
    while (i < 10000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    var p = (seed * 1000003L % cycle.length).toInt
    i = 0
    while (i < 400000) { p = cycle(p); i += 1 }
    if (x + p == 42) sink += 1 // keeps the loops from being eliminated
    threads.getCurrentThreadCpuTime - c
  }
  @volatile private var sink = 0

  private def once(): Probe = {
    val t = System.nanoTime()
    val fs = (0 until cores).map(i => pool.submit(new Callable[Long] {
      def call(): Long = loop(i)
    }))
    val cpu = fs.map(_.get()).sum
    Probe((System.nanoTime() - t) / 1e9, cpu / 1e9)
  }

  /** Median wall and median CPU of five probes. */
  def probe(): Probe = {
    val ps = Seq.fill(5)(once())
    Probe(Main.median(ps.map(_.wall)), Main.median(ps.map(_.cpu)))
  }
}
