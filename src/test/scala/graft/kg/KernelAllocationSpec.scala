package graft.kg

import org.scalatest.funsuite.AnyFunSuite

/** Allocation budget of the fused kernel on the templated corpus, the
  * figure that sets its per-core cost on a shared box. After a warm-up
  * (JIT, memo, buffer growth) over 2,000 `Gen.page` pages, a pass over
  * the same pages is measured with the calling thread's allocated-bytes
  * counter (`com.sun.management.ThreadMXBean.getThreadAllocatedBytes`).
  *
  * Measured on a 4-vCPU box (JDK 17): [[PageScorer]] 155–496 bytes per
  * page since its front end looks tokens up by their chars in a per-task
  * table (3,936–4,185 before, 2,306 of them the token strings), and a
  * reused [[TextExtract.Extractor]] (`extract`, result string included)
  * 348 bytes, and its `run` 0 bytes. The same measurement of the kernel
  * before the per-task buffers — six intermediate strings per page in the
  * extractor and a `Seq`/`Vector`/`Option`/`Tuple` chain per sentence and
  * pair — read 20,338–20,438 bytes per page, and its `TextExtract.extract`
  * 6,971. */
class KernelAllocationSpec extends AnyFunSuite {

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  private def allocatedBy(f: => Unit): Long = {
    val id = Thread.currentThread.getId
    val before = threads.getThreadAllocatedBytes(id)
    f
    threads.getThreadAllocatedBytes(id) - before
  }

  private lazy val pages = (0L until 2000L).map { i =>
    val p = Gen.page(42L, i, withText = false)
    (p.url, p.html)
  }

  private def perPage(pass: () => Unit): Long = {
    pass(); pass() // warm
    allocatedBy(pass()) / pages.size
  }

  test("PageScorer allocates at most 8 KB per templated page") {
    val kernel = new PageScorer(Pipeline.buildBundle(), () => ())
    val bytes = perPage(() => pages.foreach { case (url, html) => kernel.score(url, html).size })
    info(s"$bytes bytes per page")
    assert(bytes <= 8 * 1024, s"$bytes bytes per page")
  }

  test("PageScorer allocates at most 1.5 KB per templated page") {
    val kernel = new PageScorer(Pipeline.buildBundle(), () => ())
    val bytes = perPage(() => pages.foreach { case (url, html) => kernel.score(url, html).size })
    info(s"$bytes bytes per page")
    assert(bytes <= 1536, s"$bytes bytes per page")
  }

  test("a reused extractor allocates at most 1.5 KB per templated page") {
    val extractor = new TextExtract.Extractor
    val bytes = perPage(() => pages.foreach { case (_, html) => extractor.extract(html) })
    info(s"$bytes bytes per page")
    assert(bytes <= 1536, s"$bytes bytes per page")
  }

  test("a reused extractor's run allocates at most 16 bytes per templated page") {
    val extractor = new TextExtract.Extractor
    val bytes = perPage(() => pages.foreach { case (_, html) => extractor.run(html) })
    info(s"$bytes bytes per page")
    assert(bytes <= 16, s"$bytes bytes per page")
  }
}
