package sparkbench

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

/** A minimal test suite, so the specs compile and run with the same
  * compiler and classpath as the benchmark itself: `test(name) { ... }`
  * registers a case, Predef's `assert` checks, `afterAll` cleans up. */
abstract class Spec {
  private val cases = ArrayBuffer.empty[(String, () => Unit)]

  protected def test(name: String)(body: => Unit): Unit = cases += name -> (() => body)

  protected def intercept[E <: Throwable](body: => Any)(implicit ct: ClassTag[E]): E =
    try { body; throw new AssertionError(s"expected ${ct.runtimeClass.getName}") }
    catch { case e: Throwable if ct.runtimeClass.isInstance(e) => e.asInstanceOf[E] }

  protected def afterAll(): Unit = ()

  /** Runs every case; returns the names of those that failed. */
  def run(): Seq[String] = {
    val failed = try cases.toSeq.flatMap { case (name, body) =>
      try { body(); println(s"[spec] ok   ${getClass.getSimpleName}: $name"); None }
      catch { case e: Throwable =>
        println(s"[spec] FAIL ${getClass.getSimpleName}: $name: $e")
        e.printStackTrace()
        Some(name)
      }
    } finally afterAll()
    failed
  }
}

/** Runs the spec classes named as arguments; exits 1 if any case fails. */
object Specs {
  def main(args: Array[String]): Unit = {
    val failed = args.toSeq.flatMap(c =>
      Class.forName(c).getDeclaredConstructor().newInstance().asInstanceOf[Spec].run())
    val total = failed.size
    println(s"[spec] ${if (total == 0) "all passed" else s"$total failed"}")
    sys.exit(if (total == 0) 0 else 1)
  }
}
