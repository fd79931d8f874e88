package graft.cli

import scala.annotation.tailrec

import org.apache.spark.sql.SparkSession

/** A flag's value kind: how its argv value parses, and how the usage
  * line names it. */
sealed abstract class Kind(val label: String) {

  /** `s` read as this kind, or None when it does not parse. */
  def read(s: String): Option[Any]
}

object Kind {
  case object Str extends Kind("<string>") { def read(s: String) = Some(s) }
  case object Int extends Kind("<int>") { def read(s: String) = s.toIntOption }
  case object Long extends Kind("<long>") { def read(s: String) = s.toLongOption }
  case object Double extends Kind("<number>") { def read(s: String) = s.toDoubleOption }

  /** Present (true) or absent (false); takes no value, so
    * [[Cli.parse]] never reads one. */
  case object Switch extends Kind("") { def read(s: String) = None }

  /** A comma list of `item`s: each item trimmed, empty items dropped,
    * at least one item left. */
  final case class ListOf(item: Kind) extends Kind(s"${item.label},...") {
    def read(s: String) = {
      val items = s.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map(item.read)
      Option.when(items.nonEmpty && items.forall(_.isDefined))(items.flatten)
    }
  }

  /** One of a fixed set of values. */
  final case class OneOf(values: String*) extends Kind(values.mkString("|")) {
    def read(s: String) = Option.when(values.contains(s))(s)
  }
}

/** One `--name` flag of a verb: its kind, and either a default, a
  * required marker, or neither (an optional flag reads as absent). */
final case class Flag(name: String, kind: Kind, default: Option[Any] = None,
    required: Boolean = false) {
  def usage: String =
    if (kind == Kind.Switch) s"--$name"
    else s"--$name ${kind.label} " + default.map {
      case items: Seq[_] => s"(default ${items.mkString(",")})"
      case d => s"(default $d)"
    }.getOrElse(if (required) "(required)" else "(optional)")
}

object Flag {
  def str(name: String, default: String): Flag = Flag(name, Kind.Str, Some(default))
  def int(name: String, default: Int): Flag = Flag(name, Kind.Int, Some(default))
  def long(name: String, default: Long): Flag = Flag(name, Kind.Long, Some(default))
  def double(name: String, default: Double): Flag = Flag(name, Kind.Double, Some(default))
  def required(name: String, kind: Kind = Kind.Str): Flag = Flag(name, kind, required = true)
  def optional(name: String, kind: Kind = Kind.Str): Flag = Flag(name, kind)
  def switch(name: String): Flag = Flag(name, Kind.Switch, Some(false))
}

/** A verb's parsed flags: every flag given or defaulted, by name, as its
  * kind's value type (`String`, `Int`, `Long`, `Double`, `Boolean` or a
  * `Seq` of the item type). An optional flag not given is absent. */
final case class Args(values: Map[String, Any]) {
  def apply[T](name: String): T = values(name).asInstanceOf[T]
  def get[T](name: String): Option[T] = values.get(name).map(_.asInstanceOf[T])
}

/** A verb body's refusal of its input: `error: <message>` on stderr and
  * exit `status` (1 for a lookup that found nothing, 2 for bad input). */
final class Refusal(message: String, val status: Int) extends Exception(message)

/** One CLI verb: its name, its flags and its body. The body gets the
  * parsed flags and a session thunk; the session starts on the thunk's
  * first call, so a body that refuses its input first, or never needs
  * Spark, starts none. */
final case class Verb(name: String, flags: Flag*)(
    val body: (Args, () => SparkSession) => Unit) {
  def usage: String = flags.map(_.usage).mkString(", ")
}

object Cli {

  /** `argv` (the verb's name first) resolved against `verbs`: the verb
    * and its parsed flags, or the one-line message naming the problem. */
  def parse(verbs: Seq[Verb], argv: Seq[String]): Either[String, (Verb, Args)] =
    verbs.find(v => argv.headOption.contains(v.name)) match {
      case Some(verb) => parse(verb, argv.tail).map(verb -> _)
      case None => Left(s"unknown command ${argv.headOption.getOrElse("<none>")}; " +
        s"expected ${verbs.map(_.name).mkString("|")}")
    }

  /** The one reader of a verb's argv: every `--flag value` pair (a
    * switch takes no value) read by the flag's kind, then the defaults.
    * Refuses an unknown flag or stray token, a repeated flag, a flag with
    * no value, a value that does not parse and a missing required flag;
    * the message names the verb and lists its valid flags. */
  def parse(verb: Verb, argv: Seq[String]): Either[String, Args] = {
    def fail(problem: String) =
      Left(s"${verb.name}: $problem; valid flags: ${verb.usage}")
    @tailrec def read(rest: List[String], got: Map[String, Any])
        : Either[String, Map[String, Any]] = rest match {
      case Nil => Right(got)
      case tok :: tail => verb.flags.find(f => tok == s"--${f.name}") match {
        case None if tok.startsWith("--") => fail(s"unknown flag $tok")
        case None => fail(s"unexpected argument '$tok'")
        case Some(f) if got.contains(f.name) => fail(s"$tok given twice")
        case Some(f) if f.kind == Kind.Switch => read(tail, got + (f.name -> true))
        case Some(f) => tail match {
          case v :: more if !v.startsWith("--") => f.kind.read(v) match {
            case Some(x) => read(more, got + (f.name -> x))
            case None => fail(s"$tok expects ${f.kind.label}, got '$v'")
          }
          case _ => fail(s"$tok needs a value")
        }
      }
    }
    read(argv.toList, Map.empty).flatMap { got =>
      verb.flags.find(f => f.required && !got.contains(f.name)) match {
        case Some(f) => fail(s"--${f.name} is required")
        case None => Right(Args(verb.flags.flatMap(f =>
          got.get(f.name).orElse(f.default).map(f.name -> _)).toMap))
      }
    }
  }
}
