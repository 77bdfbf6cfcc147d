package graft

class SinksSpec extends SparkSpec {

  test("storage formats: orc/json/csv round-trip the lineitem sample exactly") {
    val src = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
        "l_linestatus")
    def assertSame(back: org.apache.spark.sql.DataFrame): Unit = {
      assert(back.count() == src.count())
      assert(back.except(src).isEmpty && src.except(back).isEmpty)
    }
    val orc = tempDir("orc")
    src.write.mode("overwrite").orc(orc)
    assertSame(spark.read.orc(orc))
    val json = tempDir("json")
    src.write.mode("overwrite").json(json)
    assertSame(spark.read.schema(src.schema).json(json))
    val csv = tempDir("csv")
    src.write.mode("overwrite").option("header", "true").csv(csv)
    assertSame(spark.read.schema(src.schema).option("header", "true").csv(csv))
  }
}
