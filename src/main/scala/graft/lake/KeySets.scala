package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Cast, Coalesce, EqualTo, Expression, In, InSet, Literal, Not, PredicateHelper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.graftbridge.{ColumnBridge, ScanBridge}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A key set held on the driver and probed row by row inside a scan's
  * generated code ([[InKeySet]]): the in-scan form of a small anti- or
  * semi-join, with no broadcast exchange and so no job of its own.
  *
  * Keys are values of one column in Spark's internal form of its CURRENT
  * type (`Long`, `Integer`, `UTF8String`, `Decimal`, …), so the probe
  * compares exactly the values the scan produces. Each key carries a tag:
  * the largest `addedAt` of the equality deletes that hold it (only
  * [[InKeySet]]'s sequence form reads it).
  *
  * Equality is identity and the plan string shows the size, not the
  * keys: comparing or hashing plans stays O(1) in the key count. */
final class KeySet private (tags: java.util.HashMap[AnyRef, java.lang.Long])
    extends Serializable {

  def size: Int = tags.size

  def contains(key: AnyRef): Boolean = tags.containsKey(key)

  /** The key's tag, or `Long.MinValue` when the set does not hold it. */
  def tagOf(key: AnyRef): Long = {
    val t = tags.get(key)
    if (t == null) Long.MinValue else t.longValue
  }

  override def toString: String = s"$size keys"
}

object KeySet {

  /** `keys` with their tags; a key listed twice keeps its largest tag. */
  def apply(keys: Iterator[(AnyRef, Long)]): KeySet = {
    val m = new java.util.HashMap[AnyRef, java.lang.Long]()
    keys.foreach { case (k, t) =>
      val prev = m.get(k)
      if (prev == null || prev.longValue < t) m.put(k, t)
    }
    new KeySet(m)
  }

  /** Types whose internal values compare under `equals` exactly as Spark's
    * join equality compares them. Floating point is out (a join
    * normalizes NaN and -0.0), and so are binary (arrays compare by
    * identity), nested types and non-binary string collations. */
  def probeable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case s: StringType => s.typeName == "string" // the binary collation
    case _ => false
  }
}

/** `in_key_set(key)`: true iff the key is not null and `set` holds it.
  * With a sequence child `seq`, true iff the key's tag is strictly
  * greater than `seq`: "an equality delete newer than this row's file
  * holds its key". A null key is never in the set, as under the equality
  * joins this replaces.
  *
  * The set is a reference object of the generated code, like
  * [[DvIsDeleted]]'s bitmaps, so the code is the same for every key set
  * and compiles once; Spark's `InSet` would inline a small integer set
  * into a `switch` and compile again for every batch's keys. A filter's
  * own key constants are bound by [[BoundKeys]] as an [[InSetRef]]
  * instead: it is `InSet` with this reference-object code, so it keeps
  * the parquet pushdown that this expression, unknown to Spark's filter
  * translation, would lose. */
case class InKeySet(key: Expression, seq: Option[Expression], set: KeySet)
    extends Expression {

  override def children: Seq[Expression] = key +: seq.toSeq
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "in_key_set"
  override def toString: String =
    s"$prettyName(${children.mkString(", ")}; $set)"

  def probe(k: AnyRef): Boolean = set.contains(k)
  def probeAfter(k: AnyRef, s: Long): Boolean = set.tagOf(k) > s

  override def eval(input: InternalRow): Any = {
    val k = key.eval(input)
    if (k == null) false
    else seq match {
      case None => probe(k.asInstanceOf[AnyRef])
      case Some(e) =>
        val s = e.eval(input)
        s != null && probeAfter(k.asInstanceOf[AnyRef], s.asInstanceOf[Long])
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("keySet", this, classOf[InKeySet].getName)
    val k = key.genCode(ctx)
    val boxed =
      if (CodeGenerator.isPrimitiveType(key.dataType))
        s"${CodeGenerator.boxedType(key.dataType)}.valueOf(${k.value})"
      else s"${k.value}"
    seq.map(_.genCode(ctx)) match {
      case None => ev.copy(code = code"""
        ${k.code}
        boolean ${ev.value} = !${k.isNull} && $ref.probe($boxed);""", isNull = FalseLiteral)
      case Some(s) => ev.copy(code = code"""
        ${k.code}
        ${s.code}
        boolean ${ev.value} = !${k.isNull} && !${s.isNull} &&
          $ref.probeAfter($boxed, ${s.value});""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(key = newChildren.head, seq = newChildren.lift(1))
}

object InKeySet {
  /** Column-API entry: `key` probed against `set`, against tags newer
    * than `afterSeq` when given. */
  def apply(key: Column, set: KeySet, afterSeq: Option[Column] = None): Column =
    ColumnBridge.column(InKeySet(ColumnBridge.expression(key),
      afterSeq.map(ColumnBridge.expression), set))
}

/** Spark's `InSet` (same semantics, and still translated to a pushed
  * parquet `In`) whose generated code always probes its set as a
  * reference object. Spark's own code does so too, except for Byte,
  * Short, Int and Date sets of up to 400 keys, which it inlines into a
  * `switch` that compiles again for every key set. The set holds no
  * null. */
final class InSetRef(child: Expression, hset: Set[Any]) extends InSet(child, hset) {

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("set", hset, classOf[Set[_]].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val boxed =
        if (CodeGenerator.isPrimitiveType(child.dataType))
          s"${CodeGenerator.boxedType(child.dataType)}.valueOf($c)"
        else c
      s"${ev.value} = $set.contains($boxed);"
    })
  }

  override def withNewChildInternal(newChild: Expression): InSet = new InSetRef(newChild, hset)
}

/** The key constants of a row filter bound as a referenced set, so the
  * generated code is the same for every key: a repeated point lookup or
  * index probe hits Spark's codegen cache instead of compiling new
  * classes on the driver and again in the task. Only the form of the row
  * filter changes; callers prune files with their own column as before.
  *
  * A predicate is bound when, after analysis has coerced it, it is
  * `attr = c`, `c = attr` or `attr IN (c1, …, cn)` over a key type whose
  * values compare by `equals` ([[KeySet.probeable]]), and every `c` is
  * foldable, deterministic and evaluates to a non-null value of the
  * attribute's type (so a cast of a literal folds). The bound form is
  * [[InSetRef]], which pushes down to parquet as the unbound form does.
  * It is null or false wherever the predicate is, so a binding is exact
  * only where null and false both drop the row: a filter's top-level
  * conjuncts, or inside `coalesce(_, false)`. */
object BoundKeys extends PredicateHelper {

  private def bind(e: Expression): Option[Expression] = e match {
    case EqualTo(KeyAttr(a), c) => bindSet(a, Seq(c))
    case EqualTo(c, KeyAttr(a)) => bindSet(a, Seq(c))
    case In(KeyAttr(a), cs) if cs.nonEmpty => bindSet(a, cs)
    case _ => None
  }

  /** An attribute, also under the cast to its own type that `IN`'s
    * coercion puts on every side when one constant differs. */
  private object KeyAttr {
    def unapply(e: Expression): Option[Attribute] = e match {
      case a: Attribute => Some(a)
      case Cast(a: Attribute, dt, _, _) if dt == a.dataType => Some(a)
      case _ => None
    }
  }

  private def bindSet(a: Attribute, cs: Seq[Expression]): Option[Expression] =
    if (!KeySet.probeable(a.dataType) ||
      !cs.forall(c => c.foldable && c.deterministic && c.dataType == a.dataType)) None
    else scala.util.Try(cs.map(_.eval())).toOption // a constant that fails stays as written
      .filterNot(_.contains(null))
      .map(vs => new InSetRef(a, vs.toSet))

  /** `df.filter(cond)` with each of `cond`'s top-level key conjuncts
    * bound; `NOT`/`OR` subtrees, `<=>`, ranges and computed sides stay as
    * written. */
  def filter(df: DataFrame, cond: Column): DataFrame =
    rewrite(df.filter(cond))(c =>
      splitConjunctivePredicates(c).map(p => bind(p).getOrElse(p)).reduce(And))

  /** The rows of `df` whose `key` is null or none of `keys` (external
    * values of type `dt`, analysed against the column as an IN list's
    * literals are), the keys bound as a set. */
  def without(df: DataFrame, key: String, keys: Seq[Any], dt: DataType): DataFrame = {
    val in = col(key).isin(keys.map(v => ColumnBridge.column(Literal.create(v, dt))): _*)
    rewrite(df.filter(!coalesce(in, lit(false)))) {
      case Not(Coalesce(Seq(p, orElse))) => Not(Coalesce(Seq(bind(p).getOrElse(p), orElse)))
      case c => c
    }
  }

  /** `filtered` with its analyzed top `Filter`'s condition rewritten by
    * `f`; `filtered` itself when `f` changes nothing or analysis put
    * another node on top. */
  private def rewrite(filtered: DataFrame)(f: Expression => Expression): DataFrame =
    filtered.queryExecution.analyzed match {
      case Filter(c, child) =>
        val bound = f(c)
        if (bound fastEquals c) filtered
        else ColumnBridge.ofAnalyzed(filtered.sparkSession, Filter(bound, child))
      case _ => filtered
    }
}

/** The keys of equality-delete files, held on the driver. Delete files
  * are immutable and uniquely named, so one process-wide LRU keyed by
  * path serves every table handle, bounded by the total number of keys
  * held ([[MaxKeys]]). [[LakeTable.mergeByKeys]] seeds it with the keys
  * it already holds when it writes a file; a miss reads the file once on
  * the driver through the parquet reader a scan task would use, which
  * starts no Spark job. Keys are stored as written: [[masks]] casts them
  * to the current column type. */
object EqDeleteKeys {

  /** Most keys the cache holds across all files. */
  val MaxKeys: Long = 1L << 18

  // path -> key values in the written type's internal form
  private val cache = new java.util.LinkedHashMap[String, Array[AnyRef]](16, 0.75f, true)
  private var held = 0L

  private def put(path: String, keys: Array[AnyRef]): Unit = cache.synchronized {
    if (keys.length <= MaxKeys && !cache.containsKey(path)) {
      cache.put(path, keys)
      held += keys.length
      val it = cache.entrySet().iterator()
      while (held > MaxKeys && it.hasNext) {
        val e = it.next()
        if (e.getKey != path) { held -= e.getValue.length; it.remove() }
      }
    }
  }

  /** Record the keys just written to `path` (internal values of the
    * written type). */
  private[lake] def seed(path: String, keys: Seq[AnyRef]): Unit = put(path, keys.toArray)

  /** Forget every held key set, as in a fresh process. */
  private[lake] def clear(): Unit = cache.synchronized { cache.clear(); held = 0L }

  private[lake] def isHeld(path: String): Boolean = cache.synchronized(cache.containsKey(path))

  /** The keys of `d`, read on a miss; `written` is the key column's
    * physical field as the file stores it. */
  private def keysOf(spark: SparkSession, conf: Configuration, d: EqualityDeleteFile,
                     written: StructField): Array[AnyRef] = {
    val hit = cache.synchronized(cache.get(d.path))
    if (hit != null) return hit
    val schema = StructType(Seq(written))
    val read = ScanBridge.parquetReader(spark, schema, schema, Nil, conf)
    val keys = read(ScanBridge.wholeFile(d.path, d.sizeBytes)).map { r =>
      if (r.isNullAt(0)) null
      else r.get(0, written.dataType) match {
        // a vectorized reader reuses its string buffers between rows
        case s: UTF8String => s.copy()
        case v => v.asInstanceOf[AnyRef]
      }
    }.toArray
    put(d.path, keys)
    keys
  }

  /** The keys of `dels` (one key column, `keyId`) as one [[KeySet]] in the
    * column's current type, each tagged with the largest `addedAt` of the
    * deletes that hold it. None when the deletes hold more than `bound`
    * keys in total (Σ `rowCount`, known from metadata) or the type cannot
    * be probed; a wider key layout is left to the joins. A null key never
    * matches and is left out. */
  private[lake] def masks(spark: SparkSession, conf: Configuration, m: TableMeta,
                          keyIds: Seq[Int], dels: Seq[EqualityDeleteFile],
                          bound: Long): Option[KeySet] = {
    if (keyIds.size != 1 || dels.map(_.rowCount).sum > bound) return None
    val id = keyIds.head
    val current = m.schema.byId(id).getOrElse(throw new IllegalStateException(
      s"equality-delete key id $id dropped from current schema")).sparkType
    if (!KeySet.probeable(current)) return None
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    Some(KeySet(dels.iterator.flatMap { d =>
      val schema = m.schemas.find(_.schemaId == d.schemaId).getOrElse(m.schema)
      val w = schema.byId(id).getOrElse(throw new IllegalStateException(
        s"equality-delete key id $id missing from schema ${d.schemaId}"))
      val keys = keysOf(spark, conf, d, StructField(w.physicalName, w.sparkType, nullable = true))
      // keys are stored by column id, so a rename needs nothing; a widened
      // type casts each key as the scan casts the column
      val cast: AnyRef => AnyRef =
        if (w.sparkType == current) identity
        else v => Cast(Literal(v, w.sparkType), current, tz).eval().asInstanceOf[AnyRef]
      keys.iterator.filter(_ != null).map(k => cast(k) -> d.addedAt).filter(_._1 != null)
    }))
  }
}
