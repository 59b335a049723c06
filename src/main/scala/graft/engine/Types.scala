package graft.engine

/** Lagoon's column type system, re-expressed in Scala.
  *
  * Reference semantics:
  *  - column types: src/interface/src/Lagoon/Interface/ColumnType.hs:36-60
  *  - storage mapping: src/backend/src/Lagoon/Ingest/TypeUniverse.hs:68-81
  *  - inference lattice: src/backend/src/Lagoon/Ingest/Tabular/TypeInference.hs:73-116
  *  - Text→Document threshold (4096 chars): TypeUniverse.hs:38-39
  */
sealed trait IntWidth
object IntWidth {
  case object I4 extends IntWidth
  case object I8 extends IntWidth
  /** I8 absorbs (TypeInference.hs:110-116). */
  def join(a: IntWidth, b: IntWidth): IntWidth =
    if (a == I8 || b == I8) I8 else I4
}

/** Result of lexing one field (TypeUniverse.hs:44-50). */
sealed trait InferredType
object InferredType {
  case object InfBool extends InferredType
  final case class InfInt(width: IntWidth) extends InferredType
  case object InfReal extends InferredType
  case object InfText extends InferredType
}

sealed trait ColumnType {
  /** Spark storage type: the type `Ingest.castTo` writes for this
    * column and `Catalog.view` reads it back as (our analog of
    * fieldPostgresType, TypeUniverse.hs:72-81). int[] is stored as its
    * raw text, like Text / Document / JSON.
    */
  def sparkType: org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    this match {
      case ColumnType.ColBool              => BooleanType
      case ColumnType.ColInt(IntWidth.I4)  => IntegerType
      case ColumnType.ColInt(IntWidth.I8)  => LongType
      case ColumnType.ColReal              => DoubleType
      case ColumnType.ColText              => StringType
      case ColumnType.ColDocument          => StringType
      case ColumnType.ColArr               => StringType
      case ColumnType.ColJSON(_)           => StringType
      case ColumnType.ColForeign(_, _)     => LongType
    }
  }
  /** Lagoon's display name, as used in its golden dbinfo output. */
  def displayName: String = this match {
    case ColumnType.ColBool             => "BOOLEAN"
    case ColumnType.ColInt(IntWidth.I4) => "INTEGER"
    case ColumnType.ColInt(IntWidth.I8) => "BIGINT"
    case ColumnType.ColReal             => "DOUBLE PRECISION"
    case ColumnType.ColText             => "TEXT"
    case ColumnType.ColDocument         => "DOCUMENT"
    case ColumnType.ColArr              => "int[]"
    case ColumnType.ColJSON(_)          => "JSON"
    case ColumnType.ColForeign(t, c)    => s"FOREIGN $t($c)"
  }
}

object ColumnType {
  /** Inverse of displayName (catalog entries store the rendered form). */
  def fromDisplay(s: String): ColumnType = s match {
    case "BOOLEAN"          => ColBool
    case "INTEGER"          => ColInt(IntWidth.I4)
    case "BIGINT"           => ColInt(IntWidth.I8)
    case "DOUBLE PRECISION" => ColReal
    case "TEXT"             => ColText
    case "DOCUMENT"         => ColDocument
    case "int[]"            => ColArr
    case "JSON"             => ColJSON(None)
    case other if other.startsWith("FOREIGN ") =>
      val body = other.stripPrefix("FOREIGN ")
      val p = body.indexOf('(')
      ColForeign(body.substring(0, p), body.substring(p + 1, body.length - 1))
    case other => throw new IllegalArgumentException(s"unknown column type: $other")
  }

  case object ColBool extends ColumnType
  final case class ColInt(width: IntWidth) extends ColumnType
  case object ColReal extends ColumnType
  case object ColText extends ColumnType
  case object ColDocument extends ColumnType
  case object ColArr extends ColumnType
  final case class ColJSON(tpe: Option[JsonType]) extends ColumnType
  final case class ColForeign(table: String, column: String) extends ColumnType

  /** Max field length to still be Text (TypeUniverse.hs:38-39). */
  val MaxTextLen = 4096

  /** Lift a lexed field into a column type (fromInferred, TypeUniverse.hs:52-59):
    * only a Text field can become Document, based on the raw field length.
    */
  def fromInferred(raw: String, t: InferredType): ColumnType = t match {
    case InferredType.InfText =>
      if (raw.length <= MaxTextLen) ColText else ColDocument
    case InferredType.InfBool    => ColBool
    case InferredType.InfInt(w)  => ColInt(w)
    case InferredType.InfReal    => ColReal
  }

  /** One step of the per-column guess update (updateWith,
    * TypeInference.hs:83-108). `raw` is the raw field text (its length
    * drives Text→Document promotion).
    */
  def updateWith(cur: ColumnType, raw: String, t: InferredType): ColumnType =
    (cur, t) match {
      // never-inferred types are sticky
      case (c @ ColForeign(_, _), _) => c
      case (c @ ColJSON(_), _)       => c
      case (ColArr, _)               => ColArr
      // Text/Document absorb; only length can still promote
      case (ColDocument, _) => ColDocument
      case (ColText, _) =>
        if (raw.length <= MaxTextLen) ColText else ColDocument
      case (_, InferredType.InfText) =>
        if (raw.length <= MaxTextLen) ColText else ColDocument
      // same types
      case (ColBool, InferredType.InfBool) => ColBool
      case (ColReal, InferredType.InfReal) => ColReal
      case (ColInt(w1), InferredType.InfInt(w2)) => ColInt(IntWidth.join(w1, w2))
      // joins
      case (ColBool, InferredType.InfInt(w))  => ColInt(w)
      case (ColBool, InferredType.InfReal)    => ColReal
      case (ColInt(w), InferredType.InfBool)  => ColInt(w)
      case (ColInt(_), InferredType.InfReal)  => ColReal
      case (ColReal, InferredType.InfBool)    => ColReal
      case (ColReal, InferredType.InfInt(_))  => ColReal
    }

  /** Lattice join of two column-type guesses — the commutative/associative
    * merge used to combine per-partition folds (the reference folds
    * sequentially; the lattice is order-independent, so a distributed
    * treeAggregate computes the same fixpoint).
    */
  def join(a: ColumnType, b: ColumnType): ColumnType = (a, b) match {
    case (x, y) if x == y => x
    case (ColDocument, _) | (_, ColDocument) => ColDocument
    case (ColText, _) | (_, ColText) => ColText
    case (ColInt(w1), ColInt(w2)) => ColInt(IntWidth.join(w1, w2))
    case (ColBool, ColInt(w)) => ColInt(w)
    case (ColInt(w), ColBool) => ColInt(w)
    case (ColBool, ColReal) | (ColReal, ColBool) => ColReal
    case (ColInt(_), ColReal) | (ColReal, ColInt(_)) => ColReal
    case _ => ColText
  }
}

/** Lagoon's JSON type lattice
  * (src/interface/src/Lagoon/Interface/JsonType.hs:52-75): a unification
  * lattice with Unknown bottom and Mixed top; object keys carry an
  * `optional` flag, null lifts to Nullable.
  */
sealed trait JsonType
object JsonType {
  case object JMixed extends JsonType
  case object JUnknown extends JsonType
  case object JString extends JsonType
  case object JNumber extends JsonType
  case object JBool extends JsonType
  final case class JNullable(t: JsonType) extends JsonType
  final case class JArray(t: JsonType) extends JsonType
  /** key → (optional?, type) */
  final case class JObject(fields: Map[String, (Boolean, JsonType)]) extends JsonType

  /** Normalizing Nullable constructor: Nullable is idempotent, and
    * Mixed (the lattice top — "any JSON value") already includes null.
    * Without this, `unify` is neither commutative nor associative on
    * nested nullables (e.g. Nullable(Unknown) ⊔ Nullable(Mixed)
    * double-wraps in one order only) — and our cross-row unification
    * is a `treeAggregate`, whose combine ORDER is nondeterministic, so
    * the inferred type of a corpus could vary run to run. The
    * reference folds rows sequentially (TypeInference.hs:104-134), so
    * its clause order never faced reassociation; normalization keeps
    * its sequential results while making the fold order-independent.
    */
  def nullable(t: JsonType): JsonType = t match {
    case JMixed       => JMixed
    case JNullable(_) => t
    case _            => JNullable(t)
  }
  // Invariant: every JsonType the engine produces builds Nullable via
  // `nullable` (JsonInfer's one raw JNullable wraps JUnknown, already
  // normal), so nested JNullable(JNullable(_)) / JNullable(JMixed)
  // never occur. unify's algebraic laws (commutative, associative —
  // EngineProps) hold on this reachable domain; raw un-normalized
  // constructions are outside the contract.

  /** Unification (Ingest/JSON/TypeInference.hs:104-134); commutative
    * and associative (EngineProps), safe for distributed folds.
    */
  def unify(a: JsonType, b: JsonType): JsonType = (a, b) match {
    case (JMixed, _) => JMixed
    case (_, JMixed) => JMixed
    case (t, JUnknown) => t
    case (JUnknown, t) => t
    case (JString, JString) => JString
    case (JNumber, JNumber) => JNumber
    case (JBool, JBool)     => JBool
    case (JNullable(t), t2) => nullable(unify(t, t2))
    case (t, JNullable(t2)) => nullable(unify(t, t2))
    case (JArray(t), JArray(t2)) => JArray(unify(t, t2))
    case (JObject(f1), JObject(f2)) =>
      val keys = f1.keySet ++ f2.keySet
      JObject(keys.iterator.map { k =>
        (f1.get(k), f2.get(k)) match {
          case (Some((o1, t1)), Some((o2, t2))) => k -> (((o1 || o2), unify(t1, t2)))
          case (Some((_, t1)), None)            => k -> ((true, t1))
          case (None, Some((_, t2)))            => k -> ((true, t2))
          case (None, None)                     => k -> ((true, JUnknown)) // unreachable
        }
      }.toMap)
    case _ => JMixed
  }

  /** Spark schema for typed access to JSON values of this shape: Mixed and
    * Unknown stay raw strings; Nullable just marks nullability (Spark
    * fields are nullable anyway).
    */
  def toSparkType(t: JsonType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    t match {
      case JMixed | JUnknown => StringType
      case JString           => StringType
      case JNumber           => DoubleType
      case JBool             => BooleanType
      case JNullable(inner)  => toSparkType(inner)
      case JArray(el)        => ArrayType(toSparkType(el))
      case JObject(fs) =>
        StructType(fs.toSeq.sortBy(_._1).map { case (k, (_, ft)) =>
          StructField(k, toSparkType(ft), nullable = true)
        })
    }
  }

  /** Render in a lagoon-ish surface syntax (for golden catalog output). */
  def render(t: JsonType): String = t match {
    case JMixed       => "mixed"
    case JUnknown     => "unknown"
    case JString      => "string"
    case JNumber      => "number"
    case JBool        => "bool"
    case JNullable(i) => s"nullable(${render(i)})"
    case JArray(e)    => s"[${render(e)}]"
    case JObject(fs)  =>
      fs.toSeq.sortBy(_._1).map { case (k, (opt, ft)) =>
        s""""$k"${if (opt) "?" else ""}: ${render(ft)}"""
      }.mkString("{", ", ", "}")
  }
}
