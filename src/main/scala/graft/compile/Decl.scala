package graft.compile

import scala.jdk.CollectionConverters._

/** A param's value type: the decoder over snakeyaml's raw java values
  * (undefined at a value of the wrong type), how messages name it, and
  * the mark a required param carries in usage text. */
private[graft] final class Kind(val what: String, val mark: String = "")(
    val decode: PartialFunction[Any, Any])

private[graft] object Kind {
  private def whole(n: Number): Boolean =
    n.doubleValue.isWhole && math.abs(n.doubleValue) <= Int.MaxValue
  private def entries(m: Any): Map[String, Any] = m match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, v) => k.toString -> (v: Any) }.toMap
    case m: Map[_, _] => m.map { case (k, v) => k.toString -> (v: Any) }
  }

  val str = new Kind("a non-empty string")({ case s: String if s.nonEmpty => s })
  /** A file or directory: a string the CLI expands `$VAR`, `${VAR}`
    * and `%VAR%` in (see [[graft.cli.Util.expandPathParams]]). */
  val path = new Kind("a non-empty string")({ case s: String if s.nonEmpty => s })
  val int = new Kind("an integer")({ case n: Number if whole(n) => n.intValue })
  val dbl = new Kind("a number")({ case n: Number => n.doubleValue })
  val bool = new Kind("true or false")({ case b: java.lang.Boolean => b.booleanValue })
  /** An integer or the word `auto`, decoded to `Option[Int]` (None = auto). */
  val intOrAuto = new Kind("an integer or 'auto'")({
    case "auto" => None
    case n: Number if whole(n) => Some(n.intValue)
  })
  val strs = new Kind("a list of strings", "[]")({
    case l: java.util.List[_] if !l.contains(null) => l.asScala.toSeq.map(_.toString)
    case l: Seq[_] if !l.contains(null) => l.map(_.toString)
    case s: String if s.nonEmpty => Seq(s)
  })
  /** A list of mappings. Entries that are not mappings are dropped;
    * `expect` reports them from the raw list. */
  val maps = new Kind("a list of mappings", "[{}]")({
    case l: java.util.List[_] => l.asScala.toSeq.collect { case m: java.util.Map[_, _] => entries(m) }
    case l: Seq[_] => l.collect { case m: Map[_, _] => entries(m) }
  })
  val strMap = new Kind("a mapping", "{}")({
    case m @ (_: java.util.Map[_, _] | _: Map[_, _]) =>
      entries(m).map { case (k, v) => k -> String.valueOf(v) }
  })
}

/** Where a param's value comes from when the stage does not give it. */
private[graft] sealed trait Dflt
private[graft] case object Required extends Dflt
/** Optional with no default: read with [[Args.opt]]. */
private[graft] case object Unset extends Dflt
private[graft] final case class Fixed(value: Any) extends Dflt
/** A default computed from the stage's other args; `shown` is its usage text. */
private[graft] final case class Derived(shown: String, f: Args => Any) extends Dflt

/** One declared param. `allowed` lists an enum's values, default first. */
private[graft] final case class Param(name: String, kind: Kind, dflt: Dflt,
                                      allowed: Seq[String] = Nil) {
  def in(values: Seq[String]): Param = copy(allowed = values)
  def usage: String = dflt match {
    case Required => name + kind.mark
    case Unset => name
    case _ if allowed.nonEmpty => s"$name=${allowed.mkString("|")}"
    case Derived(shown, _) => s"$name=$shown"
    case Fixed(v) => s"$name=${v match {
      case s: Seq[_] => s.mkString("[", ",", "]")
      case None => "auto"
      case Some(x) => s"$x|auto"
      case x => x
    }}"
  }
}

/**
 * The declaration of an `analytics:` op or an `expect` rule: its name,
 * a one-line summary, its params, whether a stream can run it, the
 * cross-param rules its params alone cannot state, and its build
 * function. Load-time validation, the usage text and the stage's
 * reads all derive from it.
 *
 * `streamable` ops hold no cross-row state (row-local projections and
 * filters, per-partition decodes, first-arrival dedup, stream-static
 * joins), so their micro-batch and batch semantics coincide.
 */
private[graft] final case class Decl[B](name: String, summary: String, params: Seq[Param],
                                         streamable: Boolean = false,
                                         check: Args => Seq[String] = (_: Args) => Nil)(val build: B) {

  def required: Seq[Param] = params.filter(_.dflt == Required)

  def usage: String = {
    val opt = params.filterNot(_.dflt == Required)
    (required.map(_.usage) ++ (if (opt.isEmpty) Nil else Seq(opt.map(_.usage).mkString("[", " ", "]"))) ++
      (if (summary.isEmpty) Nil else Seq(s"— $summary"))).mkString(" ")
  }

  def args(raw: Map[String, Any]): Args = new Args(name, params, raw)

  /** Load-time errors of one stage's raw params: required params that
    * are absent, empty or of the wrong type; undeclared keys (`noun`
    * names them); present optional params of the wrong type; values
    * outside an enum. When every required param is there, [[check]]
    * runs over the params that passed. */
  def errors(raw: Map[String, Any], noun: String): Seq[String] = {
    val declared = params.map(p => p.name -> p).toMap
    val missing = required.filterNot(p => raw.get(p.name).flatMap(p.kind.decode.lift).exists {
      case c: Iterable[_] => c.nonEmpty
      case _ => true
    })
    val bad = raw.toSeq.sortBy(_._1).flatMap { case (k, v) =>
      declared.get(k) match {
        case None => Some(k -> s"unknown $noun '$k' — usage: $usage")
        case Some(p) if missing.contains(p) => None
        case Some(p) => p.kind.decode.lift(v) match {
          case None => Some(k -> s"$noun '$k' must be ${p.kind.what} (got ${shown(v)})")
          case Some(d) if p.allowed.nonEmpty && !p.allowed.contains(d) =>
            Some(k -> s"$k '$d' not in ${p.allowed.mkString(",")}")
          case _ => None
        }
      }
    }
    val errs = (if (missing.isEmpty) Nil
      else Seq(s"missing ${missing.map(_.name).mkString(", ")} — usage: $usage")) ++ bad.map(_._2)
    if (missing.nonEmpty) errs else errs ++ check(args(raw -- bad.map(_._1)))
  }

  private def shown(v: Any): String = v match {
    case s: String => "\"" + s + "\""
    case x => String.valueOf(x)
  }
}

/**
 * One stage's params, read as its declaration says. Reading a name the
 * declaration does not hold, or with another kind, throws, so what a
 * stage reads and what it declares cannot drift apart. A present value
 * decodes by its kind (a value of the wrong kind throws rather than
 * falling back); an absent one takes its default.
 */
private[graft] final class Args(owner: String, params: Seq[Param], given: Map[String, Any]) {
  def str(n: String): String = get(n, Kind.str).asInstanceOf[String]
  def int(n: String): Int = get(n, Kind.int).asInstanceOf[Int]
  def dbl(n: String): Double = get(n, Kind.dbl).asInstanceOf[Double]
  def bool(n: String): Boolean = get(n, Kind.bool).asInstanceOf[Boolean]
  def intOrAuto(n: String): Option[Int] = get(n, Kind.intOrAuto).asInstanceOf[Option[Int]]
  def strs(n: String): Seq[String] = get(n, Kind.strs).asInstanceOf[Seq[String]]
  def maps(n: String): Seq[Map[String, Any]] = get(n, Kind.maps).asInstanceOf[Seq[Map[String, Any]]]
  def strMap(n: String): Map[String, String] = get(n, Kind.strMap).asInstanceOf[Map[String, String]]
  def path(n: String): String = get(n, Kind.path).asInstanceOf[String]
  /** A string param with no default, if given. */
  def opt(n: String): Option[String] = value(n, Kind.str).map(_.asInstanceOf[String])
  /** A path param with no default, if given. */
  def optPath(n: String): Option[String] = value(n, Kind.path).map(_.asInstanceOf[String])
  /** The undecoded value, for checks on what the decoder drops. */
  def raw(n: String): Option[Any] = { param(n); given.get(n) }

  private def get(n: String, k: Kind): Any =
    value(n, k).getOrElse(throw new IllegalArgumentException(s"$owner: missing $n"))

  private def value(n: String, k: Kind): Option[Any] = {
    val p = param(n)
    require(p.kind eq k, s"$owner reads '$n' as ${k.what}, but declares ${p.kind.what}")
    given.get(n) match {
      case Some(v) => Some(k.decode.applyOrElse(v, (_: Any) => throw new IllegalArgumentException(
        s"$owner: param '$n' must be ${k.what} (got $v)")))
      case None => p.dflt match {
        case Fixed(v) => Some(v)
        case Derived(_, f) => Some(f(this))
        case _ => None
      }
    }
  }

  private def param(n: String): Param = params.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"$owner reads param '$n', which it does not declare"))
}
