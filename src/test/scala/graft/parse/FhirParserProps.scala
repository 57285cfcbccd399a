package graft.parse

import graft.SharedSpark
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Properties, Test}

/** ScalaCheck properties: FhirParser's seven plain-spelled fields never
  * throw, whatever the bundle — null, non-JSON text, truncated,
  * mistyped or deeply nested — and a damaged bundle can only degrade a
  * field to its error value (outcome "Null", apiStatus "Fail", every
  * other field null), never make it read something else. Each batch
  * runs as one Spark job over an RDD (so nothing is folded on the
  * driver), with GraftExtensions.ParseOnce binding one parse per
  * schema.
  */
object FhirParserProps extends Properties("FhirParser") {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  // ---- a small JSON tree, so bundles can be damaged node by node ----

  sealed trait J
  final case class Obj(fields: List[(String, J)]) extends J
  final case class Arr(items: List[J]) extends J
  final case class Str(s: String) extends J
  final case class Num(d: Long) extends J
  final case class Bool(b: Boolean) extends J
  case object JNull extends J

  private def quote(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  private def render(j: J): String = j match {
    case Obj(fs) => fs.map { case (k, v) => quote(k) + ":" + render(v) }.mkString("{", ",", "}")
    case Arr(xs) => xs.map(render).mkString("[", ",", "]")
    case Str(s) => quote(s)
    case Num(d) => d.toString
    case Bool(b) => b.toString
    case JNull => "null"
  }

  private def few[T](g: Gen[T]): Gen[List[T]] = Gen.choose(0, 3).flatMap(Gen.listOfN(_, g))

  /** A field that is present, absent, or an explicit JSON null. */
  private def opt(k: String, g: Gen[J]): Gen[List[(String, J)]] =
    Gen.frequency(4 -> g.map(v => List(k -> v)), 1 -> Gen.const(Nil), 1 -> Gen.const(List(k -> JNull)))

  private val text: Gen[String] = Gen.oneOf(Gen.alphaNumStr, Gen.asciiPrintableStr).map(_.take(12))

  private val codings: Gen[J] = few(for {
    c <- Gen.oneOf("approval-limit", "copay-maximum", "eligible", "not-eligible", "GW-001")
    d <- text
  } yield Obj(List("code" -> Str(c), "display" -> Str(d)))).map(Arr(_))

  private val resource: Gen[J] = {
    val ext = for {
      url <- Gen.oneOf("http://example.org/extension-siteEligibility", "http://example.org/other")
      cs <- codings
    } yield Obj(List("url" -> Str(url), "valueCodeableConcept" -> Obj(List("coding" -> cs))))
    val benefit = for (cs <- codings; v <- Gen.choose(0L, 5000L)) yield Obj(List(
      "type" -> Obj(List("coding" -> cs)),
      "allowedMoney" -> Obj(List("value" -> Num(v), "currency" -> Str("SAR")))))
    val item = for (name <- Gen.oneOf("Approval limit", "Other"); bs <- few(benefit))
      yield Obj(List("name" -> Str(name), "benefit" -> Arr(bs)))
    val insurance = few(item).map(is => Obj(List("inforce" -> Bool(true), "item" -> Arr(is))))
    for {
      rt <- Gen.oneOf("CoverageEligibilityResponse", "Patient")
      outcome <- opt("outcome", Gen.oneOf("complete", "error", "queued").map(Str(_)))
      disposition <- opt("disposition", text.map(Str(_)))
      extension <- opt("extension", few(ext).map(Arr(_)))
      error <- opt("error", few(codings.map(cs => Obj(List("code" -> Obj(List("coding" -> cs)))))).map(Arr(_)))
      ins <- opt("insurance", few(insurance).map(Arr(_)))
    } yield Obj(("resourceType" -> Str(rt)) :: outcome ++ disposition ++ extension ++ error ++ ins)
  }

  private val fhirBundle: Gen[Obj] = for {
    status <- opt("status", Gen.oneOf("success", "error").map(Str(_)))
    message <- opt("message", text.map(Str(_)))
    entries <- few(resource)
  } yield Obj(status ++ message ++ List("response" -> Obj(List(
    "entry" -> Arr(entries.map(r => Obj(List("resource" -> r))))))))

  /** The beneficiary (Iqama) response shape apiStatus/insuranceData read. */
  private val beneficiaryBundle: Gen[Obj] = for {
    status <- opt("ApiStatus", Gen.oneOf("Success", "Fail", "Pending").map(Str(_)))
    ins <- opt("Insurance", few(few(Gen.zip(text, text)).map(kv => Obj(kv.map { case (k, v) => k -> Str(v) })))
      .map(Arr(_)))
  } yield Obj(List("response" -> Obj(status ++ ins)))

  private val bundle: Gen[Obj] = Gen.oneOf(fhirBundle, beneficiaryBundle)

  private val payer: Gen[String] =
    Gen.oneOf("https://tawuniya.example/gw", "https://bupa.example/gw", "https://other.example/gw")

  // ---- the seven fields, spelled plainly, over one batch ----

  private type Fields = (String, String, String, Option[Double], Option[Double], String, Option[Map[String, String]])
  private val errorValue: Fields = ("Null", null, null, None, None, "Fail", None)

  private def extract(rows: Seq[(String, String)]): Seq[Fields] = {
    val raw = col("raw")
    val bundles = spark.sparkContext.parallelize(rows.zipWithIndex.map { case ((r, p), i) => (i, r, p) }, 2)
      .toDF("i", "raw", "payer_url")
    val out = bundles.select(col("i"),
      FhirParser.outcome(FhirParser.parsed(raw)),
      FhirParser.siteEligibility(FhirParser.parsed(raw)),
      FhirParser.note(FhirParser.parsed(raw)),
      FhirParser.approvalLimit(raw, col("payer_url")),
      FhirParser.copayMaximum(raw, col("payer_url")),
      FhirParser.apiStatus(raw),
      FhirParser.insuranceData(raw))
    val parses = out.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case j: JsonToStructs => j }))
    assert(parses.size == 2, s"ParseOnce must bind one parse per schema, planned ${parses.size}")
    out.collect().sortBy(_.getInt(0)).toSeq.map { r =>
      val money = (i: Int) => Option(r.get(i)).map(_.asInstanceOf[Double])
      (r.getString(1), r.getString(2), r.getString(3), money(4), money(5), r.getString(6),
        Option(r.getMap[String, String](7)).map(_.toMap))
    }
  }

  /** Each field of `got` is `clean`'s or the error value's. */
  private def degradesOnly(got: Fields, clean: Fields): Boolean =
    got.productIterator.zip(clean.productIterator).zip(errorValue.productIterator)
      .forall { case ((g, c), e) => g == c || g == e }

  private def batch[T](g: Gen[T]): Gen[List[T]] = Gen.choose(1, 12).flatMap(Gen.listOfN(_, g))

  property("null and non-JSON text read as the error values") = {
    val junk = Gen.oneOf(
      Gen.const(null: String), Gen.const(""), Gen.const("   "), Gen.const("{"), Gen.const("nul"),
      Gen.asciiPrintableStr.map("<" + _), Gen.alphaStr.map("not json " + _))
    Prop.forAllNoShrink(batch(Gen.zip(junk, payer))) { rows =>
      val got = extract(rows)
      Prop(got.forall(_ == errorValue)) :| s"got $got"
    }
  }

  property("truncated bundles read as the error values") =
    Prop.forAllNoShrink(batch(for {
      b <- bundle.map(render)
      cut <- Gen.choose(0, b.length - 1)
      p <- payer
    } yield (b.take(cut), p))) { rows =>
      val got = extract(rows)
      Prop(got.forall(_ == errorValue)) :| s"got ${rows.zip(got).filter(_._2 != errorValue)}"
    }

  /** The bundle's nodes in pre-order; index 0 is the bundle itself. */
  private def preorder(j: J): List[J] = j :: (j match {
    case Obj(fs) => fs.flatMap(f => preorder(f._2))
    case Arr(xs) => xs.flatMap(preorder)
    case _ => Nil
  })

  /** The bundle with its pre-order node number `pick` replaced by `wrong`. */
  private def mutate(j: J, pick: Int, wrong: J): J = {
    var left = pick
    def go(x: J): J = {
      left -= 1
      if (left == -1) wrong
      else if (left < -1) x
      else x match {
        case Obj(fs) => Obj(fs.map { case (k, v) => k -> go(v) })
        case Arr(xs) => Arr(xs.map(go))
        case leaf => leaf
      }
    }
    go(j)
  }

  /** A JSON value of another kind than `j`, which the schema rejects.
    * Not null: every field may be null, and a null `response` reads as
    * a transport error, which is a different valid bundle. String
    * nodes are left out: a string field keeps ANY JSON value as its
    * text (FhirParserSpec pins that), so a mistyped string is not a
    * malformed bundle to Spark.
    */
  private def wrongFor(j: J): Gen[J] = j match {
    case Obj(_) | Arr(_) => Gen.oneOf(Num(7), Bool(false), Str("seven"))
    case _ => Gen.oneOf(Str("seven"), Obj(Nil), Arr(Nil))
  }

  /** The payers whose money fields read the parsed bundle. The
    * tawuniya path takes the first two allowedMoney values anywhere in
    * the raw text, with no schema to break: mistyping a node that holds
    * one legitimately shifts which values come first.
    */
  private val structuredPayer: Gen[String] = Gen.oneOf("https://bupa.example/gw", "https://other.example/gw")

  property("a mistyped node degrades fields to their error values, nothing else") =
    Prop.forAllNoShrink(batch(for {
      b <- bundle
      pick <- Gen.oneOf(preorder(b).zipWithIndex.drop(1).collect {
        case (_: Obj | _: Arr | _: Num | _: Bool, i) => i
      })
      wrong <- wrongFor(preorder(b)(pick))
      p <- structuredPayer
    } yield (render(b), render(mutate(b, pick, wrong)), p))) { rows =>
      val clean = extract(rows.map(r => (r._1, r._3)))
      val got = extract(rows.map(r => (r._2, r._3)))
      val bad = rows.indices.filterNot(i => degradesOnly(got(i), clean(i)))
      Prop(bad.isEmpty) :| bad.map(i => s"${rows(i)._2}: ${got(i)} vs ${clean(i)}").mkString("\n")
    }

  property("deep nesting degrades fields to their error values, nothing else") =
    Prop.forAllNoShrink(batch(for {
      b <- bundle
      depth <- Gen.oneOf(Gen.choose(1, 50), Gen.choose(900, 1100), Gen.choose(5000, 20000))
      p <- payer
    } yield (b, depth, p))) { rows =>
      def deep(d: Int): String = "[" * d + "1" + "]" * d
      val withDeep = rows.map { case (b, d, p) => ("{\"deep\":" + deep(d) + "," + render(b).drop(1), p) }
      val clean = extract(rows.map { case (b, _, p) => (render(b), p) })
      val got = extract(withDeep)
      val bad = rows.indices.filterNot(i => degradesOnly(got(i), clean(i)))
      Prop(bad.isEmpty) :| bad.map(i => s"depth ${rows(i)._2}: ${got(i)} vs ${clean(i)}").mkString("\n")
    }
}
