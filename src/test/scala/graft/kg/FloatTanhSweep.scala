package graft.kg

/** Exhaustive check of `FloatKernel.tanh` against `Fdlibm.tanh(x.toDouble)
  * .toFloat` on all 2^32 float bit patterns, as raw bits. Run it before any
  * change to the Taylor table or the rounding check:
  *
  *   sbt "Test/runMain graft.kg.FloatTanhSweep [threads]"   (default 4)
  *
  * Prints the mismatch count and wall time; exits 1 on any mismatch. */
object FloatTanhSweep {
  def main(args: Array[String]): Unit = {
    val threads = args.headOption.map(_.toInt).getOrElse(4)
    val chunks = 1 << 12 // bit patterns split into 4096 slices of 2^20
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val mismatches = new java.util.concurrent.atomic.AtomicLong(0)
    val examples = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val start = System.nanoTime()
    val workers = Seq.fill(threads)(new Thread(() => {
      var chunk = next.getAndIncrement()
      while (chunk < chunks) {
        val lo = chunk.toLong << 20
        var b = lo
        while (b < lo + (1L << 20)) {
          val x = java.lang.Float.intBitsToFloat(b.toInt)
          val got = java.lang.Float.floatToRawIntBits(FloatKernel.tanh(x))
          val want = java.lang.Float.floatToRawIntBits(Fdlibm.tanh(x.toDouble).toFloat)
          if (got != want && mismatches.incrementAndGet() <= 10)
            examples.add(f"x=$x%s (0x${b.toInt}%08x): got 0x$got%08x, Fdlibm 0x$want%08x")
          b += 1
        }
        chunk = next.getAndIncrement()
      }
    }))
    workers.foreach(_.start())
    workers.foreach(_.join())
    val secs = (System.nanoTime() - start) / 1e9
    examples.forEach(e => println(e))
    println(f"FloatTanhSweep: ${mismatches.get}%d mismatches over 2^32 floats, $threads%d threads, $secs%.1f s")
    if (mismatches.get != 0) sys.exit(1)
  }
}
