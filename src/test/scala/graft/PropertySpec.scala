package graft

import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.avro.{AvroCodec, AvroInference}
import graft.config.Parsers
import graft.sources.Json

/** Property-based coverage (SURVEY §5): schema inference is total over
  * arbitrary nested records and the codec round-trips them; parsers
  * round-trip; JSON render/parse inverts. Raw scalacheck (the offline
  * cache ships no scalatestplus bridge). */
class PropertySpec extends AnyFunSuite {

  /** Runs `prop` from a fresh random seed; a failure reports the seed
    * (replay: `withInitialSeed(Seed.fromBase64(seed).get)`)
    * and the failing arguments. */
  private def check(prop: Prop, n: Int = 50): Unit = {
    val seed = Seed.random()
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(n).withInitialSeed(seed), prop)
    val counterexample = res.status match {
      case SCTest.Failed(args, _) => args.map(_.arg).mkString(", ")
      case SCTest.PropException(args, e, _) =>
        args.map(_.arg).mkString(", ") + s" threw $e"
      case other => other.toString
    }
    assert(res.passed, s"seed ${seed.toBase64}; counterexample: " +
      s"$counterexample; status: ${res.status}")
  }

  private val fieldName: Gen[String] =
    Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map("f" + _.mkString))

  private val primitive: Gen[Any] = Gen.oneOf(
    Arbitrary.arbitrary[Long].map(x => x: Any),
    // TOTAL map, not retryUntil: a retry-bounded generator can "give
    // up" under a loaded JVM (scalacheck's retry budget) — the one
    // plausible source of the round-13 single-run flake
    Arbitrary.arbitrary[Double]
      .map(d => (if (d.isNaN || d.isInfinite) 0.0 else d): Any),
    Gen.alphaNumStr.map(x => x: Any),
    Arbitrary.arbitrary[Boolean].map(x => x: Any))

  private def record(depth: Int): Gen[Map[String, Any]] = {
    val value: Gen[Any] =
      if (depth <= 0) primitive
      else Gen.frequency(
        6 -> primitive,
        1 -> Gen.listOf(Gen.alphaNumStr).map(xs => xs: Any),
        2 -> Gen.lzy(record(depth - 1)).map(m => m: Any))
    for {
      n <- Gen.choose(1, 5)
      keys <- Gen.listOfN(n, fieldName).map(_.distinct)
      vals <- Gen.listOfN(keys.length, value)
    } yield keys.zip(vals).toMap
  }

  // ints widen to long and lists to Seq[String] by the declared inference
  // semantics — normalize the expectation, not the engine.
  private def norm(v: Any): Any = v match {
    case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]].map { case (k, x) => k -> norm(x) }
    case i: Int => i.toLong
    case xs: Seq[_] => xs.map(_.toString)
    case other => other
  }

  test("inference is total and the codec round-trips arbitrary records") {
    // forAllNoShrink (round 17): the one-per-few-rounds flake of this
    // property (r13 under a loaded chain run; once in an r17 full-
    // suite run, 5 immediate re-runs clean both times) reports a
    // USELESS counterexample under shrinking — scalacheck's Map
    // shrinker empties the KEY strings, every empty-name input also
    // "fails" (Avro rejects empty names, correctly), and the minimal
    // case reported is that degenerate artifact instead of the real
    // input. No-shrink preserves the actual failing record for the
    // next occurrence; the generator itself cannot produce empty
    // names (fieldName prefixes "f").
    check(Prop.forAllNoShrink(record(2)) { rec =>
      val schema = AvroCodec.parseable(AvroInference.toValueSchema(rec))
      AvroCodec.decode(AvroCodec.encode(norm(rec), schema),
        schema) == norm(rec)
    })
  }

  test("optional-primitive schemas stay parseable for any record") {
    check(Prop.forAll(record(1)) { rec =>
      AvroInference.parse(
        AvroInference.toValueSchema(rec, optionalPrimitives = true)) != null
    }, n = 30)
  }

  test("duration parser: additive over concatenated unit terms") {
    val unit = Gen.oneOf("ms" -> 1L, "s" -> 1000L, "m" -> 60000L,
      "h" -> 3600000L, "d" -> 86400000L)
    check(Prop.forAll(Gen.listOfN(3, Gen.zip(Gen.choose(0L, 999L), unit))) {
      terms =>
        val s = terms.map { case (n, (u, _)) => s"$n$u" }.mkString(" ")
        val expected = terms.map { case (n, (_, ms)) => n * ms }.sum
        Parsers.duration(s).toMillis == expected
    })
  }

  test("csv line reader: quoted fields round-trip") {
    val field = Gen.choose(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(',', ' ', '.')))
        .map(_.mkString))
    check(Prop.forAll(Gen.nonEmptyListOf(field)) { fields =>
      Parsers.csvLine(fields.map(f => "\"" + f + "\"").mkString(",")) ==
        fields.map(_.trim).filter(_.nonEmpty)
    })
  }

  test("json render/parse inverts on flat maps") {
    val scalar: Gen[Any] = Gen.oneOf(
      Arbitrary.arbitrary[Long].map(x => x: Any),
      Gen.alphaNumStr.map(x => x: Any),
      Arbitrary.arbitrary[Boolean].map(x => x: Any))
    check(Prop.forAll(Gen.mapOf(Gen.zip(fieldName, scalar))) { m =>
      Parsers.flatJson(Json.render(m)) == m
    })
  }

  test("PolyFold.poly ≡ the Java codePoints fold on arbitrary unicode " +
      "strings (incl. astral planes — the round-11 codepoint contract)") {
    val P = 1000000007L
    val anyCodePoint: Gen[Int] = Gen.frequency(
      6 -> Gen.choose(0x20, 0x7e), // ASCII
      2 -> Gen.choose(0xa0, 0x2fff), // BMP multi-byte
      1 -> Gen.choose(0x4e00, 0x9fff), // CJK
      1 -> Gen.choose(0x1f300, 0x1faff)) // astral emoji (surrogates)
    val anyString: Gen[String] =
      Gen.listOf(anyCodePoint).map(cps =>
        new String(cps.toArray, 0, cps.length))
    check(Prop.forAll(anyString) { s =>
      var h = 0L
      s.codePoints().forEach(cp => h = (h * 31L + cp) % P)
      graft.functions.PolyFold.poly(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)) == h
    })
  }

  test("PolyFold.poly2 ≡ the Java codePoints fold base 37 mod 10⁹+9 " +
      "(the q245 double-hash second component — astral planes incl.)") {
    val P2 = 1000000009L
    val anyCodePoint: Gen[Int] = Gen.frequency(
      6 -> Gen.choose(0x20, 0x7e),
      2 -> Gen.choose(0xa0, 0x2fff),
      1 -> Gen.choose(0x4e00, 0x9fff),
      1 -> Gen.choose(0x1f300, 0x1faff))
    val anyString: Gen[String] =
      Gen.listOf(anyCodePoint).map(cps =>
        new String(cps.toArray, 0, cps.length))
    check(Prop.forAll(anyString) { s =>
      var h = 0L
      s.codePoints().forEach(cp => h = (h * 37L + cp) % P2)
      graft.functions.PolyFold.poly2(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)) == h
    })
  }

  test("PolyFold.roll ≡ the split-then-fold word model on arbitrary " +
      "unicode strings (empty words flush as hash 0)") {
    val P = 1000000007L
    val word: Gen[String] = Gen.listOf(Gen.frequency(
      5 -> Gen.choose(0x21, 0x7e),
      1 -> Gen.choose(0x1f300, 0x1f9ff)))
      .map(cps => new String(cps.toArray, 0, cps.length))
    val text: Gen[String] = Gen.listOf(word).map(_.mkString(" "))
    check(Prop.forAll(text) { s =>
      def wordHash(w: String): Long = {
        var h = 0L
        w.codePoints().forEach(cp => h = (h * 31L + cp) % P)
        h
      }
      val want = s.split(" ", -1).foldLeft(0L)((acc, w) =>
        (acc * 131L + wordHash(w)) % P)
      graft.functions.PolyFold.roll(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)) == want
    })
  }
}
