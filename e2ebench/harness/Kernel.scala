package graft.e2ebench

/** The host-speed kernel: program-free CPU work of fixed size, one thread
  * per task slot. Each thread hashes a seeded buffer with MD5 and sorts a
  * copy of a seeded int array. Its inputs never depend on the workload
  * seed, so its time moves only with the host's speed (steal, frequency,
  * neighbours), and the benchmark divides program times by it.
  */
object Kernel {
  private val Md5Rounds = 12
  private val buf: Array[Byte] = {
    val b = new Array[Byte](8 << 20)
    new java.util.Random(42L).nextBytes(b)
    b
  }
  private val ints: Array[Int] = {
    val r = new java.util.Random(7L)
    Array.fill(1 << 21)(r.nextInt())
  }

  private def work(): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var acc = 0L
    var i = 0
    while (i < Md5Rounds) {
      md.update(buf)
      acc += md.digest()(0)
      i += 1
    }
    val a = ints.clone()
    java.util.Arrays.sort(a)
    acc + a(a.length / 2)
  }

  /** Runs the kernel on `threads` threads and returns its wall seconds. */
  def run(threads: Int): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val ts = (0 until threads).map(_ => new Thread(() => { sink.addAndGet(work()); () }))
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
