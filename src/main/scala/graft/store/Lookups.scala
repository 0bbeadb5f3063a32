package graft.store

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Django-style `field__lookup` filter compilation.
  *
  * The reference accepts ORM lookups wherever a filter dict is passed:
  * `yield_many_ts` strips `__` suffixes before validating attribute names
  * (chunk_timeserie_store.py:889-899 `_check_attrs`) and forwards the raw
  * dict to `objects.filter(**filters)`; `get_lc`/`get_many_lc` forward
  * `custom_filters` the same way (hostore.py:218-268). We compile the
  * full common Django lookup set — exact/iexact, gte/lte/gt/lt, in,
  * isnull, contains/icontains, startswith/istartswith,
  * endswith/iendswith, range — into Catalyst predicates. The
  * case-sensitive string lookups and all comparisons stay
  * pushdown-eligible at the parquet scan (StringStartsWith pushes as a
  * prefix filter; contains/endswith still prune via row-group
  * dictionaries); the `i`-variants wrap the column in lower() and filter
  * post-scan, same as SQL `ILIKE`.
  */
object Lookups {

  /** All filters as one conjunction (`objects.filter(**filters)`). */
  def compile(filters: Map[String, Any]): Option[Column] =
    filters.toSeq.sortBy(_._1).map((compileOne _).tupled) match {
      case Seq() => None
      case cs    => Some(cs.reduce(_ && _))
    }

  def compileOne(key: String, value: Any): Column = {
    val (field, op) = key.split("__", 2) match {
      case Array(f, o) => (f, o)
      case Array(f)    => (f, "exact")
    }
    val c = col(field)
    (op, value) match {
      case ("exact", v)        => c === lit(v)
      case ("gte", v)          => c >= lit(v)
      case ("lte", v)          => c <= lit(v)
      case ("gt", v)           => c > lit(v)
      case ("lt", v)           => c < lit(v)
      case ("in", vs: Seq[_])  => c.isin(vs: _*)
      case ("in", vs: Array[_]) => c.isin(vs.toSeq: _*)
      case ("isnull", b: Boolean) => if (b) c.isNull else c.isNotNull
      case ("iexact", v)       => lower(c) === lit(v.toString.toLowerCase)
      case ("contains", v)     => c.contains(lit(v))
      case ("icontains", v)    => lower(c).contains(lit(v.toString.toLowerCase))
      case ("startswith", v)   => c.startsWith(v.toString)
      case ("istartswith", v)  => lower(c).startsWith(v.toString.toLowerCase)
      case ("endswith", v)     => c.endsWith(v.toString)
      case ("iendswith", v)    => lower(c).endsWith(v.toString.toLowerCase)
      case ("range", (lo, hi)) => c >= lit(lo) && c <= lit(hi)
      case ("range", vs: Seq[_]) if vs.length == 2 => c >= lit(vs(0)) && c <= lit(vs(1))
      case ("range", other) =>
        throw new IllegalArgumentException(s"$key: __range needs a (lo, hi) pair, got $other")
      case ("in", other) =>
        throw new IllegalArgumentException(s"$key: __in needs a Seq, got $other")
      case (o, _) =>
        throw new IllegalArgumentException(s"unsupported lookup '$o' in '$key'")
    }
  }

  /** `filters` as one predicate over a store whose filterable fields are
    * `fields` (true when empty), after the reference's `_check_attrs`
    * validation (chunk_timeserie_store.py:889-899): a filter on an unknown
    * base field raises before any read.
    */
  def validated(filters: Map[String, Any], fields: Seq[String]): Column = {
    val unknown = baseFields(filters).filterNot(fields.contains)
    require(unknown.isEmpty, s"Unknown attribute(s) ${unknown.mkString(",")}")
    compile(filters).getOrElse(lit(true))
  }

  /** Field names with lookup suffixes stripped — the reference's
    * `_check_attrs` validation view of a filter dict
    * (chunk_timeserie_store.py:889-899).
    */
  def baseFields(filters: Map[String, Any]): Set[String] =
    filters.keySet.map(_.split("__", 2)(0))
}
