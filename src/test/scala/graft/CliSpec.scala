package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.cli.{Args, Cli, Flag, Kind, Main, Verb}
import graft.model.Selection
import graft.normalize.Normalizer

/** The CLI's verb table and its one argv parser, with no Spark and no
  * JVM exit: every verb parses a known-good argv to its documented
  * defaults, and refuses an unknown flag, a missing required flag (or a
  * flag with no value) and a value of the wrong kind with one `error:`
  * line that names the verb and lists its flags. */
class CliSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private def verb(name: String): Verb = Main.verbs.find(_.name == name).get

  private def parse(argv: String*): Either[String, Args] =
    Cli.parse(Main.verbs, argv).map(_._2)

  /** Each verb's known-good argv and the values it must parse to: the
    * given flags plus every default; an optional flag not given is
    * absent. */
  private val good: Seq[(String, Seq[String], Map[String, Any])] = Seq(
    ("chunk", Nil,
      Map("data" -> sf, "doc" -> 0L, "size" -> 800, "overlap" -> 100)),
    ("embed", Seq("--text", "hello"),
      Map("text" -> "hello", "model" -> "text-embedding-3-small")),
    ("preview", Nil,
      Map("data" -> sf, "product" -> 2L, "fields" -> Normalizer.DefaultCore)),
    ("sync", Seq("--work", "/w"), Map("data" -> sf, "work" -> "/w",
      "limit" -> 50, "target" -> "local", "force" -> false)),
    ("sample", Seq("--work", "/w"),
      Map("data" -> sf, "work" -> "/w", "force" -> false)),
    ("scan", Seq("--work", "/w"),
      Map("data" -> sf, "work" -> "/w", "limit" -> 200, "quota" -> 3)),
    ("loop", Seq("--work", "/w"), Map("data" -> sf, "work" -> "/w",
      "ticks" -> 3, "limit" -> 100, "quota" -> 10)),
    ("status", Seq("--work", "/w"), Map("work" -> "/w")),
    ("purge", Seq("--work", "/w"), Map("work" -> "/w", "site" -> 1)),
    ("pipeline", Nil, Map("data" -> sf)),
    ("delete", Seq("--work", "/w", "--product", "7"),
      Map("work" -> "/w", "product" -> 7L, "site" -> 1)),
    ("validate", Seq("--work", "/w"),
      Map("work" -> "/w", "model" -> Selection.DefaultModel)),
    ("uninstall", Seq("--work", "/w"),
      Map("work" -> "/w", "site" -> 1, "purge-remote" -> false)),
    ("analyze", Nil, Map("data" -> sf, "release" -> false, "spans" -> false,
      "embeddings" -> false, "shards" -> false, "diversity" -> false,
      "leakage" -> false)),
    ("export", Seq("--out", "/o"), Map("data" -> sf, "out" -> "/o",
      "n-shards" -> 8, "seed" -> "v1", "features" -> false,
      "format" -> "parquet")),
    ("index-build", Seq("--root", "/r"),
      Map("data" -> sf, "root" -> "/r", "cells" -> 8)),
    ("index-search", Seq("--root", "/r"), Map("data" -> sf, "root" -> "/r",
      "query" -> 0L, "probes" -> 1, "k" -> 5)),
    ("index-status", Seq("--root", "/r"), Map("root" -> "/r", "drift" -> false)),
    ("pq-build", Seq("--root", "/r"),
      Map("data" -> sf, "root" -> "/r", "coarse" -> 8, "m" -> 8)),
    ("pq-search", Seq("--root", "/r"), Map("data" -> sf, "root" -> "/r",
      "query" -> 0L, "probes" -> 2, "k" -> 5)),
    ("dedup-build", Seq("--root", "/r"), Map("data" -> sf, "root" -> "/r",
      "split" -> 8, "k" -> 16, "r" -> 4)),
    ("dedup-classify", Seq("--root", "/r"),
      Map("data" -> sf, "root" -> "/r", "split" -> 8)),
    ("semdedup-build", Seq("--root", "/r"),
      Map("data" -> sf, "root" -> "/r", "split" -> 8)),
    ("semdedup-probe", Seq("--root", "/r"), Map("data" -> sf, "root" -> "/r",
      "split" -> 8, "threshold" -> 0.35)),
    ("semdedup-search", Seq("--root", "/r"),
      Map("data" -> sf, "root" -> "/r", "query" -> 0L, "k" -> 5)),
    ("compact", Seq("--path", "/p", "--pcol", "c"), Map("path" -> "/p",
      "pcol" -> "c", "max-files" -> 8, "target-files" -> 1)),
    ("diff", Seq("--before", "/b", "--after", "/a", "--key", "id"),
      Map("before" -> "/b", "after" -> "/a", "key" -> "id", "limit" -> 10)),
    ("fuzzy", Seq("--master", "/m", "--probe", "/p", "--key", "id", "--text", "t"),
      Map("master" -> "/m", "probe" -> "/p", "key" -> "id", "text" -> "t",
        "prefix" -> 4, "max-dist" -> 2, "limit" -> 10)),
    ("lex-build", Seq("--root", "/r"), Map("data" -> sf, "root" -> "/r")),
    ("lex-search", Seq("--root", "/r", "--terms", "a"), Map("root" -> "/r",
      "terms" -> Seq("a"), "k" -> 10, "brute" -> false, "vec" -> 0L)),
    ("lex-delete", Seq("--root", "/r", "--ids", "1"),
      Map("root" -> "/r", "ids" -> Seq(1L))),
    ("lex-upsert", Seq("--root", "/r", "--data", "/d", "--ids", "1"),
      Map("root" -> "/r", "data" -> "/d", "ids" -> Seq(1L))),
    ("lex-compact", Seq("--root", "/r"), Map("root" -> "/r")),
    ("dsir-fit", Seq("--root", "/r"), Map("data" -> sf, "root" -> "/r",
      "target-source" -> "src1", "buckets" -> 4096)),
    ("dsir-score", Seq("--root", "/r"),
      Map("data" -> sf, "root" -> "/r", "k" -> 10)))

  /** Values with their runtime class, so an Int default is not taken
    * for a Long one (Scala's `==` compares boxed numbers by value). */
  private def typed(m: Map[String, Any]): Map[String, Any] = m.map {
    case (k, s: Seq[_]) => k -> s
    case (k, v) => k -> (v, v.getClass)
  }

  /** `argv` must be refused with one line naming the verb, `problem`
    * and every flag of the verb. */
  private def assertRefused(v: Verb, argv: Seq[String], problem: String): Unit = {
    val msg = Cli.parse(v, argv).swap.getOrElse(
      fail(s"${v.name} ${argv.mkString(" ")} parsed"))
    assert(msg.startsWith(s"${v.name}: ") && msg.contains(problem), msg)
    assert(!msg.contains('\n'), msg)
    v.flags.foreach(f => assert(msg.contains(s"--${f.name}"), msg))
  }

  private def numeric(k: Kind): Boolean = k match {
    case Kind.Int | Kind.Long | Kind.Double => true
    case Kind.ListOf(item) => numeric(item)
    case _ => false
  }

  test("the table lists the 35 verbs in the unknown-command line's order") {
    assert(Main.verbs.map(_.name).mkString("|") == "chunk|embed|preview|sync|" +
      "sample|scan|loop|status|purge|pipeline|delete|validate|uninstall|" +
      "analyze|export|index-build|index-search|index-status|pq-build|" +
      "pq-search|dedup-build|dedup-classify|semdedup-build|semdedup-probe|" +
      "semdedup-search|compact|diff|fuzzy|lex-build|lex-search|lex-delete|" +
      "lex-upsert|lex-compact|dsir-fit|dsir-score")
    assert(good.map(_._1) == Main.verbs.map(_.name))
    Main.verbs.foreach(v =>
      assert(v.flags.map(_.name).distinct.size == v.flags.size, v.name))
  }

  test("an unknown or missing command names every verb") {
    for (argv <- Seq(Seq("nosuchverb"), Nil)) {
      val msg = Cli.parse(Main.verbs, argv).swap.getOrElse(fail("parsed"))
      assert(msg.startsWith(s"unknown command ${argv.headOption.getOrElse("<none>")};"))
      Main.verbs.foreach(v => assert(msg.contains(v.name), msg))
    }
  }

  for ((name, argv, expected) <- good) {
    test(s"$name: a known-good argv parses to its defaults") {
      val got = parse(name +: argv: _*).fold(e => fail(e), identity)
      assert(typed(got.values) == typed(expected))
    }

    test(s"$name: an unknown flag is refused") {
      assertRefused(verb(name), argv ++ Seq("--no-such-flag", "1"),
        "unknown flag --no-such-flag")
    }

    test(s"$name: a missing required flag, or a flag given no value, is refused") {
      val v = verb(name)
      v.flags.find(_.required) match {
        case Some(f) =>
          val i = argv.indexOf(s"--${f.name}")
          assertRefused(v, argv.patch(i, Nil, 2), s"--${f.name} is required")
        case None =>
          val f = v.flags.find(_.kind != Kind.Switch).get
          assertRefused(v, argv :+ s"--${f.name}", s"--${f.name} needs a value")
      }
    }

    test(s"$name: a value of the wrong kind is refused") {
      val v = verb(name)
      val numericFlag = v.flags.find(f => numeric(f.kind))
      val oneOf = v.flags.find(_.kind.isInstanceOf[Kind.OneOf])
      // the flag's good value, if given, is replaced by the bad one
      def bad(f: Flag, value: String) = {
        val i = argv.indexOf(s"--${f.name}")
        (if (i < 0) argv else argv.patch(i, Nil, 2)) ++ Seq(s"--${f.name}", value)
      }
      (numericFlag, oneOf) match {
        case (Some(f), _) => assertRefused(v, bad(f, "five"), "got 'five'")
        case (None, Some(f)) => assertRefused(v, bad(f, "neither"), "got 'neither'")
        case (None, None) => // no typed value to get wrong: a stray token
          assertRefused(v, argv :+ "stray", "unexpected argument 'stray'")
      }
    }
  }

  test("a misspelled flag fails and names the real one") {
    val msg = parse("index-search", "--root", "/tmp/ann", "--probs", "2")
      .swap.getOrElse(fail("parsed"))
    assert(msg.contains("unknown flag --probs") && msg.contains("--probes <int>"), msg)
  }

  test("a repeated flag is refused") {
    assert(parse("chunk", "--doc", "1", "--doc", "2").swap.exists(_.contains("--doc given twice")))
  }

  test("comma lists trim their items and drop empty ones, for every list flag") {
    def list(argv: String*)(name: String) =
      parse(argv: _*).fold(e => fail(e), _[Seq[Any]](name))
    assert(list("lex-search", "--root", "/r", "--terms", "vector, merge")("terms") ==
      Seq("vector", "merge"))
    assert(list("diff", "--before", "/b", "--after", "/a", "--key", "id",
      "--cols", " a, ,b ,")("cols") == Seq("a", "b"))
    assert(list("preview", "--fields", "title, sku,")("fields") == Seq("title", "sku"))
    assert(list("lex-delete", "--root", "/r", "--ids", " 1, 2 ,")("ids") == Seq(1L, 2L))
    assert(list("lex-upsert", "--root", "/r", "--data", "/d", "--ids", "3,4")("ids") ==
      Seq(3L, 4L))
  }

  test("a list flag refuses an item of the wrong kind and a list with no items") {
    assert(parse("lex-delete", "--root", "/r", "--ids", "1,x")
      .swap.exists(_.contains("--ids expects <long>,...")))
    assert(parse("lex-search", "--root", "/r", "--terms", " , ")
      .swap.exists(_.contains("--terms expects")))
  }

  test("sync --target takes only local or both") {
    assert(parse("sync", "--work", "/w", "--target", "both")
      .exists(_[String]("target") == "both"))
    assert(parse("sync", "--work", "/w", "--target", "bth")
      .swap.exists(_.contains("--target expects local|both, got 'bth'")))
  }

  test("switches take no value; sample --product stays a string for its fallback") {
    assert(parse("index-status", "--root", "/r", "--drift").exists(_[Boolean]("drift")))
    assert(parse("index-status", "--drift", "--root", "/r").exists(_[Boolean]("drift")))
    assert(parse("sample", "--work", "/w", "--product", "abc")
      .exists(_.get[String]("product").contains("abc")))
  }

  test("an optional typed flag parses when given") {
    assert(parse("index-search", "--root", "/r", "--at", "3")
      .exists(_.get[Long]("at").contains(3L)))
    assert(parse("validate", "--work", "/w", "--dimension", "x")
      .swap.exists(_.contains("--dimension expects <int>, got 'x'")))
  }
}
