package graft.operators

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Real image decode for the second codec-free container: uncompressed
  * 24-bit BMP (BITMAPFILEHEADER + BITMAPINFOHEADER + raw BGR rows).
  * Like WAV (operators.Wav), BMP needs no codec library — but it has
  * its own decode traps the parser must honor: little-endian headers,
  * BOTTOM-UP row order (positive biHeight), and rows padded to a
  * 4-byte boundary. The encoder and the independent parser are
  * separate code paths; the oracle-checked stats query proves they
  * invert each other on every field including the full pixel payload.
  *
  * Synthetic corpus: each embedding vector renders as an 8×8 grayscale
  * image (dim d → pixel d, byte = clamp(floor((v + 1)·128), 0, 255) —
  * a closed form DuckDB recomputes from the same floats), so any
  * header-layout, row-order, or padding bug breaks the hash match.
  * BmpSpec additionally covers a padded-stride image (width 3) and
  * malformed inputs the generator never produces.
  */
object Bmp {

  final case class BmpMeta(width: Int, height: Int, bitsPerPixel: Int,
                           byteLen: Long, pixelSum: Long)

  /** Encode a width×height grayscale image (one byte per pixel,
    * row-major TOP-DOWN in `gray`) as a standard bottom-up 24-bit BMP
    * with 4-byte row padding. */
  def encode24(width: Int, height: Int, gray: Array[Byte]): Array[Byte] = {
    require(gray.length == width * height, "pixel count mismatch")
    val stride = (width * 3 + 3) / 4 * 4
    val dataLen = stride * height
    val bb = ByteBuffer.allocate(54 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + dataLen)
    bb.putShort(0).putShort(0).putInt(54) // reserved, pixel-data offset
    bb.putInt(40).putInt(width).putInt(height) // BITMAPINFOHEADER, bottom-up
    bb.putShort(1).putShort(24) // planes, bpp
    bb.putInt(0).putInt(dataLen).putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (row <- height - 1 to 0 by -1) { // bottom-up row order
      var x = 0
      while (x < width) {
        val g = gray(row * width + x)
        bb.put(g).put(g).put(g) // BGR
        x += 1
      }
      var pad = stride - width * 3
      while (pad > 0) { bb.put(0.toByte); pad -= 1 }
    }
    bb.array()
  }

  /** True iff the first two bytes are the BMP magic. */
  def isBmp(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 && bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte

  /** Parse an uncompressed 24-bit BMP: validate the magic and header
    * fields, honor the pixel-data offset, the bottom-up row order, and
    * the 4-byte row padding, and sum every pixel's channel bytes (the
    * payload witness — headers alone can't produce it). Throws on
    * malformed input. */
  def parse(bytes: Array[Byte]): BmpMeta = {
    require(isBmp(bytes), "not a BMP file")
    require(bytes.length >= 54, "truncated BMP header")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val fileSize = bb.getInt(2)
    val dataOff = bb.getInt(10)
    val hdrSize = bb.getInt(14)
    val width = bb.getInt(18)
    val height = bb.getInt(22) // positive = bottom-up
    val planes = bb.getShort(26).toInt
    val bpp = bb.getShort(28).toInt
    val compression = bb.getInt(30)
    require(hdrSize >= 40 && planes == 1, "bad BMP info header")
    require(bpp == 24 && compression == 0, s"only uncompressed 24-bit supported (bpp=$bpp)")
    require(width > 0 && height > 0, s"bad dimensions ${width}x$height")
    require(fileSize <= bytes.length, "header claims more bytes than present")
    val stride = (width * 3 + 3) / 4 * 4
    require(dataOff + stride.toLong * height <= bytes.length, "pixel data overruns file")
    var sum = 0L
    var row = 0
    while (row < height) {
      // stored bottom-up: file row 0 is image row height-1 (the sum is
      // row-order-independent, but honoring the offset+stride layout
      // is what the padded-stride spec checks)
      val base = dataOff + row * stride
      var x = 0
      while (x < width * 3) { sum += bytes(base + x) & 0xff; x += 1 }
      row += 1
    }
    BmpMeta(width, height, bpp, bytes.length.toLong, sum)
  }

  /** byte value for embedding component v: clamp(floor((v+1)·128)). */
  def pixelByte(v: Double): Int =
    math.min(255, math.max(0, math.floor((v + 1.0) * 128.0).toInt))

  /** Oracle-checked query: render each embedding as an 8×8 grayscale
    * BMP, decode it back with the independent parser, aggregate per
    * label. Batched mapPartitions decode, one combinable shuffle. */
  def bmpStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.Tables.register(spark, dir)
    val vecs = spark.table("embeddings")
      .selectExpr("cast(vec_id as bigint)", "cast(label as bigint)",
        "cast(embedding as array<double>)")
      .as[(Long, Long, Seq[Double])]
    val decoded = vecs.mapPartitions { it =>
      it.grouped(64).flatMap { batch =>
        batch.iterator.map { case (id, label, v) =>
          val gray = v.map(x => pixelByte(x).toByte).toArray
          val m = parse(encode24(8, 8, gray))
          (label, m.width.toLong, m.height.toLong, m.pixelSum, m.byteLen)
        }
      }
    }.toDF("label", "width", "height", "pixel_sum", "n_bytes")
    decoded.groupBy($"label", $"width", $"height")
      .agg(count(lit(1)).as("n_images"),
        sum($"pixel_sum").as("total_pixel_sum"),
        sum($"n_bytes").as("total_bytes"))
  }

  /** Decoded grayscale pixels in IMAGE order (row-major top-down):
    * honors the pixel-data offset, the 4-byte row stride, and the
    * bottom-up storage order (file row r is image row height-1-r) —
    * the part of the decode the feature extraction below witnesses.
    * Callers run [[parse]] first for full validation. */
  def pixels(bytes: Array[Byte]): Array[Int] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val dataOff = bb.getInt(10)
    val width = bb.getInt(18)
    val height = bb.getInt(22)
    val stride = (width * 3 + 3) / 4 * 4
    val out = new Array[Int](width * height)
    var row = 0
    while (row < height) {
      val imgRow = height - 1 - row
      val base = dataOff + row * stride
      var x = 0
      while (x < width) {
        out(imgRow * width + x) = bytes(base + x * 3) & 0xff // blue channel (gray)
        x += 1
      }
      row += 1
    }
    out
  }

  final case class BmpFeats(hgrad: Long, vgrad: Long, checker: Long, bright: Long)

  /** Classic image features over decoded pixels — ALL exact integers,
    * and each one sensitive to a different aspect of decode ORDER:
    * horizontal gradient (within-row adjacency), vertical gradient
    * (row order — a decoder that forgets BMP's bottom-up storage gets
    * this wrong on any vertically-structured image), the ±1
    * checkerboard Walsh correlate (absolute position), bright-pixel
    * census (value fidelity). */
  def features(px: Array[Int], width: Int): BmpFeats = {
    var hg = 0L; var vg = 0L; var ck = 0L; var br = 0L
    var i = 0
    while (i < px.length) {
      val x = i % width
      val y = i / width
      if (x > 0) hg += math.abs(px(i) - px(i - 1))
      if (y > 0) vg += math.abs(px(i) - px(i - width))
      ck += px(i).toLong * (1 - 2 * ((x + y) % 2))
      if (px(i) >= 128) br += 1
      i += 1
    }
    BmpFeats(hg, vg, ck, br)
  }

  /** Oracle-checked query: render → encode → decode → feature-extract
    * per image, aggregate per label — the image analog of
    * wavFeatures (real feature DSP over the decoded payload, not the
    * header). Batched mapPartitions, one combinable shuffle. */
  def bmpFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.Tables.register(spark, dir)
    val vecs = spark.table("embeddings")
      .selectExpr("cast(vec_id as bigint)", "cast(label as bigint)",
        "cast(embedding as array<double>)")
      .as[(Long, Long, Seq[Double])]
    val feats = vecs.mapPartitions { it =>
      it.grouped(64).flatMap { batch =>
        batch.iterator.map { case (_, label, v) =>
          val gray = v.map(x => pixelByte(x).toByte).toArray
          val bytes = encode24(8, 8, gray)
          parse(bytes) // full validation walk
          val f = features(pixels(bytes), 8)
          (label, f.hgrad, f.vgrad, f.checker, f.bright)
        }
      }
    }.toDF("label", "hgrad", "vgrad", "checker", "bright")
    feats.groupBy($"label")
      .agg(count(lit(1)).as("n_images"),
        sum($"hgrad").as("total_hgrad"),
        sum($"vgrad").as("total_vgrad"),
        sum($"checker").as("walsh_checker"),
        sum($"bright").as("n_bright"))
  }

  /** DuckDB oracle for [[bmpFeatures]]: the same integer features
    * recomputed from the pixel formula at row-major positions —
    * agreement proves the decode path un-flips BMP's bottom-up rows
    * and walks the padded stride correctly (vgrad is row-order-
    * sensitive, checker is position-keyed). */
  val bmpFeaturesOracleSql: String =
    """with ix as (select vec_id, label, cast(embedding as double[]) as e,
      |             unnest(generate_series(1, 64)) as i from embeddings),
      |px as (select vec_id, label, i,
      |        least(255, greatest(0, cast(floor((e[i] + 1) * 128) as bigint))) as p,
      |        case when i % 8 <> 1 then least(255, greatest(0, cast(floor((e[i - 1] + 1) * 128) as bigint))) end as pl,
      |        case when i > 8 then least(255, greatest(0, cast(floor((e[i - 8] + 1) * 128) as bigint))) end as pu
      |       from ix),
      |f as (select vec_id, label,
      |        sum(case when pl is not null then abs(p - pl) else 0 end) as hgrad,
      |        sum(case when pu is not null then abs(p - pu) else 0 end) as vgrad,
      |        sum(p * (1 - 2 * (((i - 1) // 8 + (i - 1) % 8) % 2))) as checker,
      |        sum(case when p >= 128 then 1 else 0 end) as bright
      |      from px group by vec_id, label)
      |select cast(label as bigint) as label, cast(count(*) as bigint) as n_images,
      |  cast(sum(hgrad) as bigint) as total_hgrad,
      |  cast(sum(vgrad) as bigint) as total_vgrad,
      |  cast(sum(checker) as bigint) as walsh_checker,
      |  cast(sum(bright) as bigint) as n_bright
      |from f group by label""".stripMargin

  /** 56-bit difference hash (dHash — the perceptual fingerprint behind
    * production image dedup, e.g. the imagehash library's dhash): bit
    * (r, c) = [pixel(r, c) > pixel(r, c+1)] over the decoded 8×8
    * grayscale rows, packed MSB-first. Adjacent-pixel gradient SIGNS
    * survive brightness/contrast shifts, which is why dHash (not a
    * cryptographic hash) is the image-dedup primitive. Row-major over
    * the decoded (un-flipped) image order, so the hash witnesses the
    * bottom-up decode like vgrad does. */
  def dhash(px: Array[Int], width: Int): Long = {
    // height derived, not assumed: a non-square image would otherwise
    // silently read the wrong pixels (or out of bounds). The 64-bit
    // pack still requires the 8×8 thumbnail shape.
    val height = px.length / width
    require(px.length == width * height, s"ragged pixel buffer: ${px.length} % $width != 0")
    require(height * (width - 1) <= 64, s"dhash needs ≤64 bits, got ${height * (width - 1)}")
    var h = 0L
    var r = 0
    while (r < height) {
      var c = 0
      while (c < width - 1) {
        h = (h << 1) | (if (px(r * width + c) > px(r * width + c + 1)) 1L else 0L)
        c += 1
      }
      r += 1
    }
    h
  }

  /** The banded near-dup census over a (vec_id, dhash) source — shared
    * text for both engines (only the xor spelling differs). 4 × 14-bit
    * bands rout candidates (the simhash pigeonhole: hamming ≤ 3 is
    * GUARANTEED a shared band); candidate work is Σ bucket² — at 100×
    * growth the band split widens per the simhashBandsFor ladder
    * (stated; the default 4×14 holds to ~1M images at ≤ 50·N random
    * collisions). The hamming histogram + totals row make the output
    * non-empty at every SF even when no candidates collide. */
  private def dhashCensusSql(engine: String, hashSrc: String): String = {
    val xorAB = if (engine == "spark") "a.dhash ^ b.dhash" else "xor(a.dhash, b.dhash)"
    val spine = if (engine == "spark")
      "(select explode(sequence(0, 3)) as k)" else "(select unnest(generate_series(0, 3)) as k)"
    // band extraction stays in INTEGER arithmetic (a double round-trip
    // would drop low bits of the 56-bit hash past 2^53)
    def idiv(a: String, b: Long) =
      if (engine == "spark") s"(($a) div $b)" else s"(($a) // $b)"
    val bv = (0 to 3).map(k =>
      s"when $k then ${if (k == 0) "dhash" else idiv("dhash", 1L << (14 * k))} % 16384")
      .mkString("case k ", " ", " end")
    s"""with hs as ($hashSrc),
       |bd as (select vec_id, dhash, k, $bv as bv
       |       from hs cross join $spine sp),
       |cand as (select distinct a.vec_id as ia, b.vec_id as ib,
       |           bit_count($xorAB) as hamming
       |         from bd a join bd b on b.k = a.k and b.bv = a.bv and b.vec_id > a.vec_id),
       |hh as (select hamming, cast(count(*) as bigint) as n_pairs from cand group by hamming),
       |hc as (select dhash, cast(count(*) as bigint) as c from hs group by dhash),
       |tot as (select cast(count(*) as bigint) as n_images,
       |          cast(count(distinct dhash) as bigint) as n_distinct,
       |          cast(sum(case when c > 1 then c else 0 end) as bigint) as n_exact_dup_images,
       |          cast((select count(*) from cand) as bigint) as n_candidate_pairs,
       |          cast((select count(*) from cand where hamming <= 6) as bigint) as n_near_dup_pairs
       |        from hc)
       |select cast(-1 as bigint) as hamming, n_images as n_pairs,
       |  n_distinct, n_exact_dup_images, n_candidate_pairs, n_near_dup_pairs
       |from tot
       |union all
       |select cast(h.hamming as bigint), h.n_pairs,
       |  t.n_distinct, t.n_exact_dup_images, t.n_candidate_pairs, t.n_near_dup_pairs
       |from hh h cross join tot t""".stripMargin
  }

  /** Oracle-checked query: render → encode → decode → dHash per image,
    * then the banded near-dup census — IMAGE DEDUP, the multimodal leg
    * of the dedup matrix (exact dup = equal hash, near dup = hamming
    * ≤ 6 among band candidates). Batched mapPartitions decode; the
    * census runs in SQL over the 8-byte-per-image hash table. */
  def imageDhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.register(spark, dir)
    val vecs = spark.table("embeddings")
      .selectExpr("cast(vec_id as bigint)", "cast(embedding as array<double>)")
      .as[(Long, Seq[Double])]
    val hashed = vecs.mapPartitions { it =>
      it.grouped(64).flatMap { batch =>
        batch.iterator.map { case (id, v) =>
          val gray = v.map(x => pixelByte(x).toByte).toArray
          val bytes = encode24(8, 8, gray)
          parse(bytes) // full validation walk
          (id, dhash(pixels(bytes), 8))
        }
      }
    }.toDF("vec_id", "dhash")
    hashed.createOrReplaceTempView("g_img_dhash")
    spark.sql(dhashCensusSql("spark", "select vec_id, dhash from g_img_dhash"))
  }

  /** DuckDB oracle for [[imageDhash]]: the 56-bit dHash recomputed in
    * closed form from the pixel formula (gradient-sign bits packed
    * MSB-first at row-major positions), then the identical census —
    * agreement witnesses decode order bit-for-bit (any row flip or
    * stride slip scrambles the hash). */
  val imageDhashOracleSql: String = {
    val hashSrc =
      """select vec_id, sum(b * cast(power(2, 55 - pos) as bigint)) as dhash from (
        |  select vec_id, ((i - 1) // 8) * 7 + ((i - 1) % 8) as pos,
        |    case when least(255, greatest(0, cast(floor((e[i] + 1) * 128) as bigint))) >
        |              least(255, greatest(0, cast(floor((e[i + 1] + 1) * 128) as bigint)))
        |         then 1 else 0 end as b
        |  from (select vec_id, cast(embedding as double[]) as e,
        |          unnest(generate_series(1, 64)) as i from embeddings) _ix
        |  where (i - 1) % 8 < 7) _bits
        |group by vec_id""".stripMargin
    dhashCensusSql("duckdb", hashSrc)
  }

  /** 2×2 box downsample (the thumbnail/resize primitive of every
    * image-pipeline preprocessor): each output pixel is the floor
    * average of its 2×2 source block — exact integer arithmetic, so
    * the resized features are oracle-checkable. */
  def downsample2x(px: Array[Int], width: Int): Array[Int] = {
    val height = px.length / width
    require(px.length == width * height && width % 2 == 0 && height % 2 == 0,
      s"downsample2x needs even dims, got ${width}x$height")
    val w2 = width / 2
    val out = new Array[Int](w2 * (height / 2))
    var r = 0
    while (r < height / 2) {
      var c = 0
      while (c < w2) {
        out(r * w2 + c) = (px(2 * r * width + 2 * c) + px(2 * r * width + 2 * c + 1) +
          px((2 * r + 1) * width + 2 * c) + px((2 * r + 1) * width + 2 * c + 1)) / 4
        c += 1
      }
      r += 1
    }
    out
  }

  /** Oracle-checked query: render → encode → decode → 2×2 BOX RESIZE →
    * feature-extract over the 4×4 thumbnail, aggregate per label —
    * the multimodal RESIZE stage (decode/feature/resize is the triad
    * the pipeline brief names; wav covers frame-sampling). Same
    * batched-mapPartitions dataflow as [[bmpFeatures]]; the features
    * run on the RESIZED pixels, so agreement with the closed-form
    * oracle witnesses both the decode order and the block-average
    * geometry (a transposed or off-by-one downsample flips vgrad /
    * checker immediately). */
  def bmpResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.Tables.register(spark, dir)
    val vecs = spark.table("embeddings")
      .selectExpr("cast(vec_id as bigint)", "cast(label as bigint)",
        "cast(embedding as array<double>)")
      .as[(Long, Long, Seq[Double])]
    val feats = vecs.mapPartitions { it =>
      it.grouped(64).flatMap { batch =>
        batch.iterator.map { case (_, label, v) =>
          val gray = v.map(x => pixelByte(x).toByte).toArray
          val bytes = encode24(8, 8, gray)
          parse(bytes) // full validation walk
          val q = downsample2x(pixels(bytes), 8)
          val f = features(q, 4)
          (label, q.map(_.toLong).sum, f.hgrad, f.vgrad, f.checker, f.bright)
        }
      }
    }.toDF("label", "psum", "hgrad", "vgrad", "checker", "bright")
    feats.groupBy($"label")
      .agg(count(lit(1)).as("n_images"),
        sum($"psum").as("resized_pixel_sum"),
        sum($"hgrad").as("total_hgrad"),
        sum($"vgrad").as("total_vgrad"),
        sum($"checker").as("walsh_checker"),
        sum($"bright").as("n_bright"))
  }

  /** DuckDB oracle for [[bmpResize]]: the 16 thumbnail cells and all
    * four features recomputed in closed form from the pixel formula
    * (every q(r,c) inlines its 2×2 source block as literal embedding
    * indices — no unnest, one expression tree per feature). */
  val bmpResizeOracleSql: String = {
    def pb(idx0: Int) = // 0-based component -> clamped byte (1-based duck array)
      s"least(255, greatest(0, cast(floor((e[${idx0 + 1}] + 1) * 128) as bigint)))"
    def q(r: Int, c: Int) =
      s"((${pb(2 * r * 8 + 2 * c)} + ${pb(2 * r * 8 + 2 * c + 1)} + ${pb((2 * r + 1) * 8 + 2 * c)} + ${pb((2 * r + 1) * 8 + 2 * c + 1)}) // 4)"
    val cells = for { r <- 0 until 4; c <- 0 until 4 } yield (r, c)
    val psum = cells.map { case (r, c) => q(r, c) }.mkString(" + ")
    val hgrad = cells.filter(_._2 > 0)
      .map { case (r, c) => s"abs(${q(r, c)} - ${q(r, c - 1)})" }.mkString(" + ")
    val vgrad = cells.filter(_._1 > 0)
      .map { case (r, c) => s"abs(${q(r, c)} - ${q(r - 1, c)})" }.mkString(" + ")
    val checker = cells
      .map { case (r, c) => s"${q(r, c)} * ${1 - 2 * ((r + c) % 2)}" }.mkString(" + ")
    val bright = cells
      .map { case (r, c) => s"(case when ${q(r, c)} >= 128 then 1 else 0 end)" }.mkString(" + ")
    s"""with f as (select label,
       |        $psum as psum,
       |        $hgrad as hgrad,
       |        $vgrad as vgrad,
       |        $checker as checker,
       |        $bright as bright
       |      from (select cast(label as bigint) as label, cast(embedding as double[]) as e from embeddings) _e)
       |select label, cast(count(*) as bigint) as n_images,
       |  cast(sum(psum) as bigint) as resized_pixel_sum,
       |  cast(sum(hgrad) as bigint) as total_hgrad,
       |  cast(sum(vgrad) as bigint) as total_vgrad,
       |  cast(sum(checker) as bigint) as walsh_checker,
       |  cast(sum(bright) as bigint) as n_bright
       |from f group by label""".stripMargin
  }

  /** DuckDB oracle: the same stats straight from the pixel formula —
    * 3 channel bytes per component, 8×8 image, 54 + 192-byte files
    * (stride 24 is already 4-byte aligned at width 8). */
  val bmpStatsOracleSql: String =
    """with px as (select label,
      |        unnest(list_transform(cast(embedding as double[]),
      |               v -> least(255, greatest(0, cast(floor((v + 1) * 128) as bigint)))) ) as b
      |      from embeddings),
      |s as (select label, cast(sum(b) as bigint) as comp_sum, cast(count(*) as bigint) as n_comp
      |      from px group by label)
      |select cast(label as bigint) as label, cast(8 as bigint) as width, cast(8 as bigint) as height,
      |  cast(n_comp / 64 as bigint) as n_images,
      |  cast(comp_sum * 3 as bigint) as total_pixel_sum,
      |  cast((n_comp / 64) * 246 as bigint) as total_bytes
      |from s""".stripMargin
}
