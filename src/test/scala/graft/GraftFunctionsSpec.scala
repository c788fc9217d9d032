package graft

/** The SQL registry: every entry checks its argument count while the
  * query is analyzed and carries its usage line into DESCRIBE FUNCTION. */
class GraftFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  private def failure(sql: String): String = {
    val e = intercept[Exception](spark.sql(sql).collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" / ")
  }

  test("a wrong argument count fails with a message naming the function") {
    Seq(Tuple1(Array[Byte](1, 2, 3, 4))).toDF("b")
      .createOrReplaceTempView("arity_bytes")
    // an extra argument is refused, not dropped
    val extra = failure("SELECT bmp_width(b, 1) FROM arity_bytes")
    assert(extra.contains("bmp_width expects exactly 1 arguments, got 2"),
      extra)
    // a missing one is refused with the same message, not an index error
    val missing = failure("SELECT le_u32(b) FROM arity_bytes")
    assert(missing.contains("le_u32 expects exactly 2 arguments, got 1"),
      missing)
  }

  test("DESCRIBE FUNCTION shows the registered usage") {
    val out = spark.sql("DESCRIBE FUNCTION bmp_width").collect()
      .map(_.getString(0)).mkString("\n")
    assert(out.contains("Usage: BMP i32 LE width @18 (NULL unless BM magic)"),
      out)
  }
}
