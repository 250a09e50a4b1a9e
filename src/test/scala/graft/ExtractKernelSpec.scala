package graft

import java.nio.file.Files
import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.Graft
import graft.functions.WmDecode
import graft.operators.{Backup, Writeback}
import graft.sqlgen.{Wm, WmParams}

/** Blind extraction from stored carrier ids runs as one map-side
  * decode-and-vote pass (`Backup.voteTable`) and equals the typed-Dataset
  * form it replaced, kept here as the reference: the vote table and the
  * `extractFromIds` rows on attacked copies, under default and custom
  * WmParams, recovering the same message or failing the same way; a null
  * embedding or element fails the job as it did. One recovery runs at
  * most two Spark jobs and writes no shuffle bytes. */
class ExtractKernelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val custom = WmParams("CUSTOM MESSAGE!!", "another-key-77")

  /** The typed-Dataset extraction the kernel replaced, before its last
    * projection: (blk, bit_idx, vote = Σ(2b − 1), votes). */
  private def referenceVotes(vectors: DataFrame, idsPath: String, params: WmParams): DataFrame = {
    val s = vectors.sparkSession
    import s.implicits._
    val ids = Tables.read(s, idsPath).select("vec_id")
    vectors
      .where(col("vec_id").isin(ids))
      .select(col("embedding").cast("array<double>"))
      .as[Seq[Double]]
      .flatMap { v =>
        WmDecode.decode(v.toArray, params.key, params.delta).iterator
          .flatMap { case (blk, bits) =>
            bits.iterator.zipWithIndex.map { case (b, j) => (blk, j, b) } }
      }
      .toDF("blk", "bit_idx", "b")
      .groupBy("blk", "bit_idx")
      .agg(sum(col("b") * 2 - 1).as("vote"), count(lit(1)).as("votes"))
  }

  /** The reference's `extractFromIds` rows. */
  private def reference(vectors: DataFrame, idsPath: String, params: WmParams): DataFrame =
    referenceVotes(vectors, idsPath, params)
      .select(col("blk").cast("long").as("blk"),
        col("bit_idx").cast("long").as("bit_idx"),
        when(col("vote") > 0, 1L).otherwise(0L).as("bit"),
        col("votes"))

  /** A watermarked sf0.001 table under `params` as view `t` of a new
    * session, its id list, and seeded attacked copies: noise (sigma 0.1
    * on 30% of the rows), 10% of the rows deleted, and both (10%
    * deleted, sigma 0.05 on 30% of the rest). */
  private def attacked(params: WmParams): (SparkSession, String, Seq[DataFrame]) = {
    val s = spark.newSession()
    s.conf.set("spark.graft.scratch", "off")
    val out = Files.createTempDirectory("graft_extract").toString
    Writeback.writeStego(s, TestSpark.Sf, s"$out/stego", params)
    Backup.saveCarrierIds(s, TestSpark.Sf, s"$out/ids", params)
    s.read.parquet(s"$out/stego").createOrReplaceTempView("t")
    def u(tag: String) = s"(pmod(xxhash64(vec_id, i, '$tag'), 1000003) + 1) / 1000004.0"
    def noise(sigma: String, tag: String) =
      s"""case when pmod(xxhash64(vec_id, '${tag}pick'), 10) < 3 then transform(embedding,
         |(x, i) -> x + $sigma * sqrt(-2 * ln(${u(tag + "u")})) * cos(2 * pi() * ${u(tag + "v")}))
         |else embedding end""".stripMargin
    (s, s"$out/ids", Seq(
      s.sql(s"select vec_id, ${noise("0.1", "g")} as embedding from t"),
      s.sql("select vec_id, embedding from t where pmod(xxhash64(vec_id, 'keep'), 10) < 9"),
      s.sql(s"select vec_id, ${noise("0.05", "c")} as embedding from t " +
        "where pmod(xxhash64(vec_id, 'ckeep'), 10) < 9")))
  }

  private lazy val default = attacked(WmParams.Default)

  /** Asserts the kernel's vote table and `extractFromIds` rows equal the
    * reference's on `v`; returns the number of cells voted on. */
  private def assertParity(v: DataFrame, ids: String, params: WmParams): Int = {
    val t = Backup.voteTable(v, ids, params)
    val table = t.vote.indices.filter(t.votes(_) > 0)
      .map(c => (c / 16, c % 16, t.vote(c), t.votes(c))).toSet
    val ref = referenceVotes(v, ids, params).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(table == ref)
    val got = Backup.extractFromIds(v, ids, params)
    val want = reference(v, ids, params)
    assert(got.schema == want.schema)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    table.size
  }

  /** The message `f` recovers, or the class of what it throws. */
  private def outcome(f: => String): Either[Class[_], String] =
    try Right(f) catch { case e: Exception => Left(e.getClass) }

  /** Asserts the kernel's recovery from `v` ends as the reference's:
    * the same message, or the same exception class. */
  private def assertSameRecovery(v: DataFrame, ids: String, params: WmParams): Unit = {
    val bits = reference(v, ids, params).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(outcome(Backup.recoverFromIds(v, ids, params)) ==
      outcome(Graft.assembleAndDecrypt(bits, params.key)))
  }

  test("the vote table and extractFromIds rows equal the typed-Dataset form on attacked copies") {
    val (_, ids, copies) = default
    for (v <- copies) {
      assert(assertParity(v, ids, WmParams.Default) > 0)
      assertSameRecovery(v, ids, WmParams.Default)
    }
    // at least one copy keeps the message, so parity covers a recovery
    assert(copies.map(v => outcome(Backup.recoverFromIds(v, ids))).contains(Right(Wm.Message)))
  }

  test("the kernel equals the typed-Dataset form under custom WmParams") {
    val (_, ids, copies) = attacked(custom)
    for (v <- copies) {
      assert(assertParity(v, ids, custom) > 0)
      assertSameRecovery(v, ids, custom)
    }
  }

  test("an unwatermarked table fails the kernel's recovery as it fails the reference's") {
    val (s, ids, _) = default
    val clean = s.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    assertParity(clean, ids, WmParams.Default)
    assert(outcome(Backup.recoverFromIds(clean, ids)).isLeft)
    assertSameRecovery(clean, ids, WmParams.Default)
  }

  test("a null embedding or a null element fails the extraction instead of decoding as 0.0") {
    val (s, ids, _) = default
    val carrier = s.read.parquet(ids).select("vec_id").head().getLong(0)
    val t = s.table("t")
    val hit = col("vec_id") === carrier
    for (bad <- Seq(
        t.withColumn("embedding", when(hit, lit(null)).otherwise(col("embedding"))),
        t.withColumn("embedding",
          when(hit, expr("transform(embedding, (x, i) -> if(i = 3, null, x))"))
            .otherwise(col("embedding"))))) {
      // the reference fails in its Seq[Double] deserializer
      intercept[Exception](reference(bad, ids, WmParams.Default).collect())
      for (op <- Seq(() => Backup.recoverFromIds(bad, ids), () => Backup.extractFromIds(bad, ids))) {
        val e = intercept[SparkException](op())
        assert(e.getMessage.contains("embedding") && e.getMessage.contains("null"), e)
      }
    }
  }

  test("one recovery runs at most two Spark jobs and writes no shuffle bytes") {
    val (s, ids, copies) = default
    Backup.recoverFromIds(copies(2), ids)
    val w = Prof.work(s)(assert(Backup.recoverFromIds(copies(2), ids) == Wm.Message))
    assert(w.jobs >= 1 && w.jobs <= 2 && w.shuffleBytes == 0L, w)
    // the form it replaced shuffled its (blk, bit_idx) rows
    val ref = Prof.work(s)(reference(copies(2), ids, WmParams.Default).collect(): Unit)
    assert(ref.shuffleBytes > 0L, ref)
  }
}
