package perfbench

import graft.SecurityContext
import graft.policy._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The post-window check must count a result that differs from the
  * secure-view oracle, and a denial that does not fire, as failures.
  */
class VerdictSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val schema = Seq("id" -> "BIGINT", "name" -> "STRING", "email" -> "STRING")
  private val sql = "SELECT id, name, email FROM people ORDER BY id"
  private val none = Store(Vector.empty, Vector.empty, Vector.empty, Vector.empty, Map.empty)
  private val masked = none.copy(
    rowFilters = Vector(RowFilterPolicy("u", Gen.Cat, Gen.Db, "people", "id > 1")),
    masks = Vector(DataMaskPolicy("u", Gen.Cat, Gen.Db, "people", "email", "MASK_SHOW_FIRST_4")))
  private val denied = none.copy(columnDenies =
    Vector(ColumnDenyPolicy("u", Gen.Cat, Gen.Db, "people", "email")))

  private def setup(): Unit = {
    import spark.implicits._
    Seq((1L, "Ann Lee", "ann@example.com"), (2L, "Bo Chu", "bo7@example.com"),
      (3L, "Cy Dee", "CY9@Example.org")).toDF("id", "name", "email")
      .createOrReplaceTempView("people")
  }

  /** The secured result and the oracle's, for `enforced` and `oracle`. */
  private def run(enforced: Store, oracle: Store): (Option[Throwable], String, String) = {
    setup()
    val pm = new PolicyManager
    enforced.load(pm)
    val sc = new SecurityContext(spark, pm)
    val got = try Right(Harness.rowsDigest(sc.mixedExecute("u", sql))) catch { case e: Exception => Left(e) }
    val d = oracle.decide("u", Gen.Cat, Gen.Db, "people", schema.map(_._1), java.time.Instant.now())
    spark.sql("CREATE OR REPLACE TEMP VIEW people_oracle AS " +
      Oracle.viewSql("people", schema, d, Oracle.Mixed))
    val want = Harness.rowsDigest(spark.sql(sql.replace("people", "people_oracle")).collect().toSeq)
    (got.left.toOption, got.getOrElse(""), want)
  }

  test("a result that matches the secure-view oracle passes") {
    val (err, got, want) = run(masked, masked)
    assert(!Verdict.failed(expectDeny = false, err, got == want))
  }

  test("a result that differs from the secure-view oracle counts as a failure") {
    // the oracle knows the mask, the program enforces only the filter
    val (err, got, want) = run(masked.copy(masks = Vector.empty), masked)
    assert(got != want)
    assert(Verdict.failed(expectDeny = false, err, got == want))
  }

  test("a denial that fires passes") {
    val (err, _, _) = run(denied, denied)
    assert(err.exists(Verdict.isDenial))
    assert(!Verdict.failed(expectDeny = true, err, matchesOracle = false))
  }

  test("a denial that does not fire counts as a failure") {
    val (err, got, want) = run(none, none)
    assert(err.isEmpty && got == want)
    assert(Verdict.failed(expectDeny = true, err, got == want))
  }

  test("an unexpected error counts as a failure") {
    assert(Verdict.failed(expectDeny = false, Some(new RuntimeException("boom")), matchesOracle = true))
  }
}

/** The `secured_stream` check must pass a sink that holds every processed
  * file's secured rows once, in whole files, and count a missing, partial
  * or repeated file as a failure.
  */
class StreamVerdictSpec extends AnyFunSuite {
  private val files: Map[Long, SecuredStream.Digest] =
    (0L until 6L).map(f => f -> ((250L, 1000L + f, 7000L + 3 * f))).toMap
  private def batch(f0: Long, f1: Long) =
    ((f0 to f1).map(files).reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3)), (f0, f1))
  private val oneEach = (0L until 4L).map(f => f -> batch(f, f)).toMap

  test("one file per ledgered batch passes") {
    assert(SecuredStream.verdict(oneEach, files, Set(0L, 1L, 2L, 3L))._1 == 0)
  }

  test("a batch the restart merged from two whole files passes") {
    val sink = Map(0L -> batch(0, 0), 1L -> batch(1, 2), 2L -> batch(3, 3))
    val (failed, notes) = SecuredStream.verdict(sink, files, Set(0L, 1L, 2L))
    assert(failed == 0)
    assert(notes.contains("batches holding more than one file: 1"))
  }

  test("a batch past the last ledgered id is left out") {
    val sink = oneEach + (4L -> ((1L, 2L, 3L), (4L, 4L)))
    assert(SecuredStream.verdict(sink, files, Set(0L, 1L, 2L, 3L))._1 == 0)
  }

  test("a partial batch counts as a failure") {
    val (n, lo, hi) = files(2)
    val sink = oneEach + (2L -> ((n - 1, lo, hi), (2L, 2L)))
    assert(SecuredStream.verdict(sink, files, Set(0L, 1L, 2L, 3L))._1 == 1)
  }

  test("a file appended twice counts as a failure") {
    val sink = oneEach + (3L -> batch(2, 2))
    assert(SecuredStream.verdict(sink, files, Set(0L, 1L, 2L, 3L))._1 >= 1)
  }

  test("a missing file and a ledgered batch absent from the sink count as failures") {
    val sink = oneEach - 2L
    val (failed, notes) = SecuredStream.verdict(sink, files, Set(0L, 1L, 2L, 3L))
    assert(failed == 2)
    assert(notes.exists(_.startsWith("FAILED missing files 2")))
    assert(notes.exists(_.startsWith("FAILED ledger/sink mismatch 2")))
  }
}
