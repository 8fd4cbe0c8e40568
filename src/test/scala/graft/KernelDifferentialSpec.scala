package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite


/** Differential testing of the fused codegen kernels against the unfused
  * higher-order-function formulations they replaced (the formulations the
  * DuckDB oracles still state): on seeded-random inputs the fused and
  * unfused expressions must agree EXACTLY — integer kernels because the
  * arithmetic is exact, the hyperplane kernel because both sides run the
  * identical IEEE fold sequence.
  */
class KernelDifferentialSpec extends AnyFunSuite {

  private val spark = SparkSessionHelper.spark
  import spark.implicits._

  private val rnd = new Random(20260812L)

  // the documented MinHash family (Dedup.scala oracle constants)
  private val P = 2147483647L
  private def A(j: Int): Long = (1103515245L * (j + 1)) % 65521L
  private def B(j: Int): Long = (12345L * (j + 17)) % 65521L

  test("graft_minhash16 equals the 16 unfused aggregate() folds") {
    val rows = Seq.fill(50)(
      Seq.fill(rnd.nextInt(40))(rnd.nextLong(1L << 32)))
    val unfused = (0 until 16).map { j =>
      s"aggregate(ghs, 9223372036854775807L," +
        s" (m, h) -> least(m, (${A(j)}L * h + ${B(j)}L) % ${P}L)) AS u_$j"
    }
    val df = rows.toDF("ghs").selectExpr(
      Seq("graft_minhash16(ghs) AS sig") ++ unfused: _*)
    df.collect().foreach { r =>
      val fused = r.getSeq[Long](0)
      (0 until 16).foreach(j => assert(fused(j) == r.getLong(j + 1)))
    }
  }

  private def randWord(): String =
    Seq.fill(1 + rnd.nextInt(12))(('a' + rnd.nextInt(26)).toChar).mkString

  test("graft_h{16,32}a / graft_h32b equal the per-element transform HOFs") {
    val rows = Seq.fill(60)(Seq.fill(rnd.nextInt(30))(randWord()))
    val df = rows.toDF("toks").selectExpr(
      "graft_h16a(toks) AS f16",
      "transform(toks, t -> graft_h16(t)) AS u16",
      "graft_h32a(toks) AS f32",
      "transform(toks, t -> graft_h32(t)) AS u32",
      "graft_h32b(toks) AS fb",
      "transform(toks, t ->" +
        " cast(conv(substring(md5(t), 9, 8), 16, 10) as bigint)) AS ub")
    df.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
      assert(r.getSeq[Long](2) == r.getSeq[Long](3))
      assert(r.getSeq[Long](4) == r.getSeq[Long](5))
    }
  }

  test("graft_h64sd equals array_sort(array_distinct(transform(...)))") {
    // force duplicates so the distinct arm is exercised
    val words = Seq.fill(12)(randWord())
    val rows = Seq.fill(60)(
      Seq.fill(rnd.nextInt(40))(words(rnd.nextInt(words.size))))
    val df = rows.toDF("grams").selectExpr(
      "graft_h64sd(grams) AS fused",
      "array_sort(array_distinct(transform(grams," +
        " g -> graft_h64(g)))) AS unfused")
    df.collect().foreach(r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("graft_char5grams feeds graft_h32a identically to the substring HOF") {
    val rows = Seq.fill(40)(
      Seq.fill(3 + rnd.nextInt(40))(('a' + rnd.nextInt(26)).toChar)
        .mkString + (if (rnd.nextBoolean()) " éü≠" else ""))
    val df = rows.toDF("text").selectExpr(
      "CASE WHEN length(text) >= 5 THEN" +
        " graft_h32a(graft_char5grams(text))" +
        " ELSE cast(array() as array<bigint>) END AS fused",
      "CASE WHEN length(text) >= 5 THEN" +
        " transform(sequence(1, length(text) - 4)," +
        " i -> graft_h32(substring(text, i, 5)))" +
        " ELSE cast(array() as array<bigint>) END AS unfused")
    df.collect().foreach(r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("graft_bigrams equals the array_distinct(transform(...)) HOF, " +
      "incl. first-occurrence order and the null/short guards") {
    // heavy duplication so the distinct arm and its ORDER are exercised;
    // empty-string tokens and unicode included
    val words = Seq.fill(6)(randWord()) ++ Seq("", "éü≠")
    val rows = Seq.fill(80)(
      Seq.fill(rnd.nextInt(25))(words(rnd.nextInt(words.size)))) ++
      Seq(Seq.empty[String], Seq("one"), null)
    val df = rows.toDF("toks").selectExpr(
      "CASE WHEN size(toks) >= 2 THEN graft_bigrams(toks)" +
        " ELSE cast(array() as array<string>) END AS fused",
      "CASE WHEN size(toks) >= 2 THEN" +
        " array_distinct(transform(sequence(1, size(toks) - 1)," +
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))))" +
        " ELSE cast(array() as array<string>) END AS unfused")
    df.collect().foreach(r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("graft_bigrams with NULL tokens: output mirrors the HOF (one " +
      "first-occurrence null) and the declared type says containsNull") {
    // a null token makes concat() null; array_distinct keeps ONE null
    // at its first occurrence — the kernel must agree, and its
    // DECLARED element nullability must admit it (it propagates the
    // input's containsNull since r22; the old containsNull=false was
    // a miscompilation hazard for registry callers)
    val df = Seq(
        (1L, Seq("a", null, "b", null, "c", "a", "b")),
        (2L, Seq[String](null, null)),
        (3L, Seq("x", "y", "x", "y"))).toDF("id", "toks")
      .selectExpr("id", "graft_bigrams(toks) AS fused",
        "array_distinct(transform(sequence(1, size(toks) - 1)," +
          " i -> concat(element_at(toks, i), ' '," +
          " element_at(toks, i + 1)))) AS unfused")
    val fusedType = df.schema("fused").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
    assert(fusedType.containsNull,
      "null tokens can flow a null element into the output — the " +
        "declared type must say so")
    df.collect().foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"id=${r.get(0)}")
    }
  }

  test("graft_word8grams equals the distinct array_join(slice(...)) " +
      "HOF — txt_novelty's per-document gram set, as a SET") {
    val words = Seq.fill(8)(randWord()) ++ Seq("", "éü≠")
    val rows = Seq.fill(60)(
      Seq.fill(rnd.nextInt(40))(words(rnd.nextInt(words.size)))) ++
      Seq(Seq.empty[String], Seq("one"), (1 to 7).map(_.toString),
        (1 to 8).map(_ => "same"), null)
    val df = rows.toDF("toks").selectExpr(
      "graft_word8grams(toks) AS fused",
      "CASE WHEN size(toks) >= 8 THEN" +
        " array_distinct(transform(sequence(1, size(toks) - 7)," +
        " i -> array_join(slice(toks, i, 8), ' ')))" +
        " WHEN toks IS NULL THEN NULL" +
        " ELSE cast(array() as array<string>) END AS unfused")
    df.collect().foreach(r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("graft_simhash16 equals the 16 unfused per-bit folds") {
    val rows = Seq.fill(50)(
      Seq.fill(rnd.nextInt(30))(rnd.nextLong(1L << 16)))
    val bits = (0 until 16).map { b =>
      val mask = 1 << b
      s"CASE WHEN aggregate(hts, 0L, (acc, h) -> acc +" +
        s" CASE WHEN (h & $mask) > 0 THEN 1L ELSE -1L END) > 0" +
        s" THEN ${mask}L ELSE 0L END"
    }
    val df = rows.toDF("hts").selectExpr(
      "graft_simhash16(hts) AS fused", s"${bits.mkString(" + ")} AS unfused")
    df.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("graft_rh_buckets equals the 60 unfused plane folds (IEEE-exact)") {
    val rows = Seq.fill(30)(
      Seq.fill(16)(rnd.nextFloat() * 2.0f - 1.0f))
    def planeDot(j: Int): String = {
      val cj = (j + 1) * 2654435761L
      s"aggregate(transform(sequence(1, size(embedding)), i ->" +
        s" cast(element_at(embedding, i) as double)" +
        s" * cast((${cj}L + 40503 * i) % 97 - 48 as double))," +
        s" cast(0.0 as double), (acc, v) -> acc + v)"
    }
    val buckets = (0 until 12).map { b =>
      (0 until 5)
        .map(k => s"(CASE WHEN ${planeDot(b * 5 + k)} > 0" +
          s" THEN ${1 << k} ELSE 0 END)")
        .mkString("(", " + ", s") AS u_$b")
    }
    val df = rows.toDF("embedding").selectExpr(
      Seq("graft_rh_buckets(embedding) AS fused") ++ buckets: _*)
    df.collect().foreach { r =>
      val fused = r.getSeq[Int](0)
      (0 until 12).foreach(b => assert(fused(b) == r.getInt(b + 1)))
    }
  }

  test("graft_h16/h32/h64 equal the conv(substring(md5(..))) chains") {
    val rows = Seq.fill(60)(rnd.alphanumeric.take(rnd.nextInt(30)).mkString) ++
      Seq("", "a", "日本語テキスト", "emoji 🎉 text", "two words")
    val df = rows.toDF("s").selectExpr(
      "graft_h16(s) AS f16", "graft_h32(s) AS f32", "graft_h64(s) AS f64",
      "cast(conv(substring(md5(s), 1, 4), 16, 10) as bigint) AS u16",
      "cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint) AS u32",
      "cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint) AS u64")
    df.collect().foreach { r =>
      assert(r.getLong(0) == r.getLong(3))
      assert(r.getLong(1) == r.getLong(4))
      assert(r.getLong(2) == r.getLong(5))
    }
  }

  test("graft_dot equals the unfused aggregate(zip_with(...)) fold") {
    val rows = Seq.fill(30)((
      Seq.fill(24)(rnd.nextFloat() * 2.0f - 1.0f),
      Seq.fill(24)(rnd.nextFloat() * 2.0f - 1.0f)))
    val df = rows.toDF("a", "b").selectExpr(
      "graft_dot(a, b) AS fused",
      "aggregate(zip_with(a, b, (x, y) ->" +
        " cast(x as double) * cast(y as double))," +
        " cast(0.0 as double), (acc, v) -> acc + v) AS unfused")
    df.collect().foreach { r =>
      // bit-exact: the kernel documents the identical IEEE sequence
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("graft_cos equals graft_dot(a, b) / sqrt(n2a * n2b) bit-exactly") {
    val rows = Seq.fill(40)((
      Seq.fill(24)(rnd.nextFloat() * 2.0f - 1.0f),
      Seq.fill(24)(rnd.nextFloat() * 2.0f - 1.0f)))
    val df = rows.toDF("a", "b").selectExpr(
      "graft_cos(a, b, graft_dot(a, a), graft_dot(b, b)) AS fused",
      "graft_dot(a, b) / sqrt(graft_dot(a, a) * graft_dot(b, b)) AS unfused")
    df.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("the raw-cosine prefilter (cs > 0.3999994) never drops a pair " +
       "the rounded threshold keeps") {
    // correlated pairs so cosines cluster AROUND the 0.4 threshold —
    // random 24-dim pairs almost never land there
    val rows = Seq.fill(400) {
      val base = Seq.fill(24)(rnd.nextFloat() * 2.0f - 1.0f)
      val noisy = base.map(v =>
        (v * 0.45f + (rnd.nextFloat() * 2.0f - 1.0f) * 0.9f))
      (base, noisy)
    }
    val got = rows.toDF("a", "b").selectExpr(
      "graft_cos(a, b, graft_dot(a, a), graft_dot(b, b)) AS cs")
      .selectExpr("cs", "round(cs, 6) AS rcs").collect()
    assert(got.exists(r => r.getDouble(1) >= 0.3 && r.getDouble(1) < 0.5),
      "fixture drift: no cosines near the threshold — tighten the noise")
    got.foreach { r =>
      if (r.getDouble(1) >= 0.4) assert(r.getDouble(0) > 0.3999994)
    }
  }

  test("graft_char3grams equals the unfused HOF extraction") {
    val texts = Seq("", "a", "ab", "abc", "ab抽象cd", "αβγδε") ++
      Seq.fill(30)(Seq.fill(rnd.nextInt(200))(
        ('a' + rnd.nextInt(26)).toChar).mkString)
    val df = texts.toDF("text").selectExpr(
      "graft_char3grams(text) AS fused",
      "CASE WHEN length(text) >= 3 THEN" +
        " transform(sequence(1, length(text) - 2)," +
        " i -> substring(text, i, 3))" +
        " ELSE cast(array() as array<string>) END AS unfused")
    df.collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString)
    }
  }

  test("graft_cdc_ends equals the unfused HOF boundary scan") {
    // seeded word-soup plus adversarial shapes: shorter than one window,
    // exactly one window, multi-byte chars (char-indexed windows must
    // not drift on UTF-8), and a real fixture slice
    val words = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
      "value", "part", "hash", "naïve", "数据", "流")
    val texts = Seq("", "a", "abc", "abcd", "ab抽象cd") ++
      Seq.fill(40)(Seq.fill(rnd.nextInt(120) + 1)(
        words(rnd.nextInt(words.length))).mkString(" "))
    val df = texts.toDF("text").filter("length(text) >= 1").selectExpr(
      "graft_cdc_ends(text) AS fused",
      "array_sort(array_distinct(concat(" +
        "CASE WHEN length(text) >= 4 THEN" +
        " filter(transform(sequence(1, length(text) - 3)," +
        " i -> CASE WHEN graft_h32(substring(text, i, 4)) % 64 = 0" +
        " THEN i + 3 END), x -> x IS NOT NULL)" +
        " ELSE cast(array() as array<int>) END," +
        " array(length(text))))) AS unfused")
    df.collect().foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1), r.toString)
    }
  }
}
