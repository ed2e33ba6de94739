package graft

import org.scalatest.{BeforeAndAfterAll, Outcome, TestSuite}

/** For suites whose tests check a result against the reference
  * checkout's one real dataset (wine-classification-dacon) and cancel
  * when that checkout is absent: prints one line naming the tests the
  * suite canceled, so a green run without the reference says what it
  * left unchecked. */
trait ReferenceParity extends TestSuite with BeforeAndAfterAll {
  private val canceled = new java.util.concurrent.ConcurrentLinkedQueue[String]

  override def withFixture(test: NoArgTest): Outcome = {
    val outcome = super.withFixture(test)
    if (outcome.isCanceled) canceled.add(test.name)
    outcome
  }

  override def afterAll(): Unit =
    try if (!canceled.isEmpty) {
      import scala.jdk.CollectionConverters._
      println(s"[parity] $suiteName canceled ${canceled.size} " +
        "reference-parity test(s): " +
        canceled.asScala.mkString("\"", "\", \"", "\""))
    } finally super.afterAll()
}
