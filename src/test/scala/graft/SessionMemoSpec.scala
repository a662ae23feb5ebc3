package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bound, the release hook and per-session drop of [[SessionMemo]].
  * Stopped-session eviction needs a second SparkContext, so it is covered in
  * a child JVM by StaticParserSpec's gazetteer memo test. */
class SessionMemoSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("the memo never holds more than the bound; each cleared value is released once") {
    val released = scala.collection.mutable.ArrayBuffer[Int]()
    val memo = new SessionMemo[Int, Int](v => released += v)
    val bound = SessionMemo.Bound
    for (i <- 0 until bound + 20) {
      assert(memo.getOrElseUpdate(spark, i)(i) == i)
      assert(memo.size <= bound, s"insert $i: ${memo.size} entries")
    }
    // the insert of key `bound` found the memo full and cleared keys 0 until bound
    assert(memo.size == 20)
    assert(released.sorted == (0 until bound))
  }

  test("drop releases only that session's entries") {
    val other = spark.newSession()
    val released = scala.collection.mutable.ArrayBuffer[String]()
    val memo = new SessionMemo[Int, String](v => released += v)
    Seq(1, 2).foreach(k => memo.getOrElseUpdate(spark, k)(s"main-$k"))
    memo.getOrElseUpdate(other, 1)("other-1")
    memo.drop(other)
    assert(released.toSeq == Seq("other-1"))
    assert(!memo.holds(other) && memo.holds(spark) && memo.size == 2)
    memo.drop(spark)
    assert(released.sorted == Seq("main-1", "main-2", "other-1"))
    assert(memo.size == 0)
  }

  test("a hit does not compute; remove releases and the next call recomputes") {
    var computed = 0
    val released = scala.collection.mutable.ArrayBuffer[Int]()
    val memo = new SessionMemo[String, Int](v => released += v)
    def get() = memo.getOrElseUpdate(spark, "k") { computed += 1; computed }
    assert(get() == 1 && get() == 1 && computed == 1)
    memo.remove(spark, "k")
    assert(released.toSeq == Seq(1))
    assert(get() == 2 && computed == 2)
  }
}
