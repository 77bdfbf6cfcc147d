package graft

import org.apache.spark.sql.functions._

import graft.functions.{NativeChunk, NativeHash, VectorFns}

/** Negative paths: the native expressions must reject wrong input
  * types at analysis time, not crash at runtime. */
class ExprTypeCheckSpec extends SparkSpec {

  import spark.implicits._

  test("graft_dot rejects non-array children") {
    val df = Seq((1, "x")).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(VectorFns.dot(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("graft_dot"))
  }

  test("graft_jaccard rejects non-long arrays") {
    val df = Seq((Array("a"), Array("b"))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(NativeHash.jaccard(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("graft_jaccard"))
  }

  test("graft_jaccard rejects long arrays with nullable elements") {
    // kernels read getLong blind — a null slot would decode as 0
    val df = Seq((Array[Option[Long]](Some(1L), None), Array[Option[Long]](Some(2L))))
      .toDF("a", "b")
    val e = intercept[Exception] {
      df.select(NativeHash.jaccard(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("graft_jaccard"))
  }

  test("graft_compressed_len rejects unknown codec and non-binary input") {
    val bin = Seq(Array[Byte](1, 2, 3)).toDF("b")
    val e1 = intercept[Exception] {
      bin.select(NativeChunk.compressedLen(col("b"), "zstd")).collect()
    }
    assert(e1.getMessage.contains("graft_compressed_len"))
    val str = Seq("x").toDF("s")
    val e2 = intercept[Exception] {
      str.select(NativeChunk.compressedLen(col("s"), "gzip")).collect()
    }
    assert(e2.getMessage.contains("graft_compressed_len"))
  }

  test("graft_chunk rejects numeric input") {
    val df = Seq(1).toDF("n")
    val e = intercept[Exception] {
      df.select(NativeChunk.chunks(col("n"))).collect()
    }
    assert(e.getMessage.contains("graft_chunk"))
  }

  test("graft_chunk handles null and empty input") {
    val df = Seq(Some(""), None).toDF("text")
    assert(df.select(NativeChunk.chunks(col("text"))).count() == 0)
  }

  test("graft_pq_encode rejects non-float arrays at analysis time") {
    import graft.functions.NativePq
    val cb = new Array[Double](8 * 16 * 8)
    val df = Seq(Tuple1(Array(1L, 2L))).toDF("v")
    val e = intercept[Exception] {
      df.select(NativePq.encode(col("v"), cb, 8, 16)).collect()
    }
    assert(e.getMessage.contains("graft_pq_encode"))
  }

  test("graft_pq plan text shows the codebook's length and content hash, not its identity") {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import graft.functions.{PqAdcDot, PqEncode}
    def cb = Array.tabulate(8 * 16 * 8)(_ * 0.5)
    val texts = Seq.fill(2)(Seq(PqEncode(UnresolvedAttribute("v"), cb, 8, 16),
      PqAdcDot(UnresolvedAttribute("c"), UnresolvedAttribute("q"), cb, 16)).map(_.toString))
    assert(texts.distinct.size == 1, texts)
    assert(texts.head.forall(t => t.contains("codebook(len=1024, hash=") && !t.contains("[D@")),
      texts.head)
  }

  test("graft_pq kernels reject null vector elements loudly at runtime") {
    import graft.functions.NativePq
    val cb = new Array[Double](2 * 2 * 2)
    val df = Seq(Tuple1(Array[java.lang.Float](1.0f, null, 2.0f, 3.0f))).toDF("v")
    val e = intercept[Exception] {
      df.select(NativePq.encode(col("v"), cb, 2, 2)).collect()
    }
    assert(e.getMessage.contains("null element") ||
      Option(e.getCause).exists(_.getMessage.contains("null element")))
  }

  test("graft_chunk: rabin anchor cuts match the kernel; unknown anchor rejected") {
    val doc = ("spark native chunking " * 40).trim
    val viaGen = Seq(doc).toDF("text")
      .select(NativeChunk.chunks(col("text"), 32, 256, 6, "rabin"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3))).toSeq
    val viaKernel = graft.functions.Chunker
      .chunk(doc.getBytes("UTF-8"), 32, 256, 6, "rabin")
      .map(c => (c.chunk_idx, c.offset, c.length, c.chunk_sha))
    assert(viaGen == viaKernel && viaGen.nonEmpty)
    // rabin and buzhash anchors genuinely differ on the same input
    val buz = graft.functions.Chunker.chunk(doc.getBytes("UTF-8"), 32, 256, 6)
      .map(c => (c.chunk_idx, c.offset, c.length, c.chunk_sha))
    assert(buz != viaKernel)
    val e = intercept[Exception] {
      Seq(doc).toDF("text")
        .select(NativeChunk.chunks(col("text"), 32, 256, 6, "gear")).collect()
    }
    assert(e.getMessage.contains("anchor"))
  }

  test("graft_pq_adc_dot rejects non-binary codes") {
    import graft.functions.NativePq
    val cb = new Array[Double](2 * 2 * 2)
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f, 4.0f))).toDF("c", "q")
    val e = intercept[Exception] {
      df.select(NativePq.adcDot(col("c"), col("q"), cb, 2)).collect()
    }
    assert(e.getMessage.contains("graft_pq_adc_dot"))
  }
}
