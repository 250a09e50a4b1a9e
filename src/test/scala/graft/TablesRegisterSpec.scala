package graft

import org.scalatest.funsuite.AnyFunSuite

/** Tables.register publishes a dir for a session only once its views
  * exist: two threads sharing a session and alternating dirs never
  * resolve a view that is not there yet. */
class TablesRegisterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("two threads on one session alternate dirs and never query a missing view") {
    val dirs = Seq(TestSpark.Sf, new java.io.File(TestSpark.Sf).getParent + "/sf0.01")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    for (_ <- 0 until 3) {
      // a fresh session: its first registration is the race window
      val s = spark.newSession()
      val start = new java.util.concurrent.CountDownLatch(1)
      val threads = (0 until 2).map { _ =>
        val th = new Thread(() => {
          start.await()
          for (i <- 0 until 4) {
            Tables.register(s, dirs(i % 2))
            Tables.names.foreach { n =>
              try s.table(n).schema
              catch { case e: Exception => errors.add(s"$n: ${e.getMessage}"); () }
            }
          }
        })
        th.start(); th
      }
      start.countDown()
      threads.foreach(_.join())
    }
    assert(errors.isEmpty, errors.toString)
  }
}
