package perfbench

import org.scalatest.funsuite.AnyFunSuite

class RunnerSpec extends AnyFunSuite {

  test("a throwing op is counted as failed and never timed") {
    val r = new Runner
    r.attempt("read", "ok")(1)(_ => None)
    r.attempt("read", "boom")(throw new IllegalStateException("planted"))(_ => None)
    assert(r.attempted == 2)
    assert(r.failed == 1)
    assert(r.okMs("read").size == 1)
    assert(r.records(1).error.startsWith("threw: java.lang.IllegalStateException: planted"))
  }

  test("a wrong answer is counted as failed and never timed") {
    val r = new Runner
    val res = r.attempt("read", "wrong")(41)(v => if (v == 42) None else Some(s"got $v"))
    assert(res.isEmpty)
    assert(r.failed == 1)
    assert(r.okMs("read").isEmpty)
    assert(r.records.head.error == "wrong answer: got 41")
  }

  test("a throwing check is a failure, not a pass") {
    val r = new Runner
    r.attempt("read", "check")(1)(_ => throw new RuntimeException("bad check"))
    assert(r.failed == 1)
  }

  test("the check runs outside the timed window") {
    val r = new Runner
    r.attempt("read", "slow check")(1) { _ => Thread.sleep(200); None }
    assert(r.records.head.ms < 150)
  }

  test("fail ratio rises with each planted failure") {
    val r = new Runner
    (1 to 8).foreach(i => r.attempt("read", s"ok$i")(i)(_ => None))
    r.attempt("read", "throw")(sys.error("planted"): Int)(_ => None)
    r.attempt("read", "wrong")(0)(_ => Some("planted wrong answer"))
    assert(r.failed.toDouble / r.attempted == 0.2)
  }

  test("a failed warm-up op stays counted but is never timed") {
    val r = new Runner
    r.attempt("read", "warm")(1)(_ => Some("planted wrong answer"))
    r.attempt("read", "warm")(2)(_ => None)
    r.endWarmup()
    r.attempt("read", "measured")(3)(_ => None)
    assert(r.attempted == 3)
    assert(r.failed == 1)
    assert(r.records.take(2).forall(_.phase == "warmup"))
    assert(r.okMs("read").size == 1)
  }

  test("result comparison ignores row order and summation noise") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", StringType), StructField("v", DoubleType)))
    def rows(xs: (String, Double)*): Array[Row] =
      xs.map { case (k, v) => new GenericRowWithSchema(Array(k, v), schema): Row }.toArray
    assert(Compare.diff(rows("a" -> (0.1 + 0.2), "b" -> 1.0), rows("b" -> 1.0, "a" -> 0.3)).isEmpty)
    assert(Compare.diff(rows("a" -> 1.0), rows("a" -> 2.0)).isDefined)
    assert(Compare.diff(rows("a" -> 1.0), rows()).isDefined)
  }
}
