package graft

import graft.core.GraftError
import graft.engine.{JobConfig, Secrets, TransferEngine, TransformSpec, YamlJob}
import graft.sources.Connectors

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CLI entry point mirroring the reference's UX
  * (`/root/reference/src/cli.rs:5-144`, `src/main.rs:16-186`):
  *
  * {{{
  * graft <SOURCE> <TARGET> [OPTIONS]
  * graft run <job.yaml>
  * graft generate-config [OPTIONS] <SOURCE> <TARGET>   # YAML → stdout
  * graft generate-default-config                        # template → stdout
  * }}}
  *
  * Options: --transform EXPRS | --transform-file F (file wins, with a
  * warning, cli.rs:183-191), --schema-file F, --preview N, --dry-run,
  * --truncate, --batch-size N, --skip-existing, --source-type T,
  * --source-secret-id ID, --dest-secret-id ID, --infer-schema BOOL,
  * --log-level info|warn|error.
  */
object Main {

  sealed trait Cmd
  final case class Transfer(cfg: JobConfig, preview: Option[Int],
                            dryRun: Boolean, logLevel: String) extends Cmd
  final case class RunYaml(file: String) extends Cmd
  final case class GenConfig(cfg: JobConfig) extends Cmd
  final case class Profile(source: String, columns: Seq[String],
                           exact: Boolean,
                           sourceOptions: Map[String, String],
                           logLevel: String = "error",
                           numeric: Boolean = false,
                           histogram: Option[String] = None,
                           bins: Int = 20,
                           range: Option[(Double, Double)] = None) extends Cmd
  final case class TopKCmd(source: String, groups: Seq[String], key: String,
                           id: String, k: Int, asc: Boolean,
                           sourceOptions: Map[String, String],
                           logLevel: String) extends Cmd
  final case class CheckCmd(source: String, rulesFile: String,
                            sourceOptions: Map[String, String],
                            logLevel: String) extends Cmd
  final case class CompactCmd(source: String, target: String,
                              targetFileMb: Int, clusterBy: Seq[String],
                              rebalance: Boolean,
                              sourceOptions: Map[String, String],
                              logLevel: String) extends Cmd
  final case class ManifestCmd(source: String, id: String, content: String,
                               shards: Int, seed: Long,
                               sourceOptions: Map[String, String],
                               logLevel: String) extends Cmd
  final case class SampleCmd(source: String, target: String, id: String,
                             fraction: Option[Double], complement: Boolean,
                             k: Option[Int], weight: Option[String],
                             by: Seq[String], seed: Long,
                             sourceOptions: Map[String, String],
                             logLevel: String) extends Cmd
  final case class LinkageCmd(left: String, right: String, target: String,
                              block: String,
                              score: Seq[(String, String, Double)],
                              threshold: Double, maxBlock: Int,
                              sourceOptions: Map[String, String],
                              logLevel: String) extends Cmd
  final case class DedupCmd(source: String, target: String, id: String,
                            content: Seq[String], text: Option[String],
                            threshold: Double,
                            sourceOptions: Map[String, String],
                            logLevel: String) extends Cmd
  final case class DriftCmd(base: String, current: String, column: String,
                            bins: Int, categorical: Boolean,
                            sourceOptions: Map[String, String],
                            logLevel: String) extends Cmd
  final case class CdxHostCmd(archives: Seq[String], host: String,
      out: Option[String], logLevel: String) extends Cmd
  final case class StripExifCmd(source: String, target: String,
                                flagsOut: Option[String],
                                sourceOptions: Map[String, String],
                                logLevel: String) extends Cmd
  case object GenDefault extends Cmd
  case object Help extends Cmd
  case object Version extends Cmd

  /** Version line (reference prints `tinyetl <semver>` for -V). */
  val versionLine = "graft 0.10.0 (Spark engine, TinyETL-compatible)"

  val usage: String =
    """A tiny ETL tool for moving data between sources (Spark edition)
      |
      |Usage: graft <SOURCE> <TARGET> [OPTIONS]
      |       graft run <job.yaml>
      |       graft generate-config [OPTIONS] <SOURCE> <TARGET>
      |       graft generate-default-config
      |       graft profile <SOURCE> [--columns a,b,c] [--exact]
      |                               [--numeric] [--histogram COL]
      |                               [--bins N] [--range LO:HI]
      |                               [--source-type TYPE]
      |       graft topk <SOURCE> --group g1,g2 --key COL --id COL
      |                               [-k N] [--asc] [--source-type TYPE]
      |       graft check <SOURCE> --rules rules.yaml [--source-type TYPE]
      |                               (exit 1 if any check fails — CI gate)
      |       graft compact <SOURCE> <TARGET> [--target-file-mb N]
      |                               [--cluster-by a,b] [--rebalance]
      |                               [--source-type TYPE]
      |                               (small-file rewrite; cluster-by adds
      |                               a range+sort layout pass for skipping)
      |       graft manifest <SOURCE> --id COL --content COL
      |                               [--shards N] [--seed S]
      |                               [--source-type TYPE]
      |                               (per-shard reproducibility manifest:
      |                               counts, id range, XOR fingerprint)
      |       graft sample <SOURCE> <TARGET> --id COL
      |                               (--fraction F [--complement]
      |                                | --k N --weight COL [--by g1,g2])
      |                               [--seed S] [--source-type TYPE]
      |                               (deterministic hash sample, or exact-k
      |                               weighted Efraimidis-Spirakis pick)
      |       graft linkage <LEFT> <RIGHT> <TARGET> --block COL
      |                               --score LCOL:RCOL[:WEIGHT][,...]
      |                               --threshold T [--max-block N]
      |                               [--source-type TYPE]
      |                               (blocked fuzzy-match join scored by
      |                               Jaro-Winkler — entity resolution)
      |       graft dedup <SOURCE> <TARGET> --id COL
      |                               (--content c1[,c2,...]
      |                                | --text COL [--threshold T])
      |                               [--source-type TYPE]
      |                               (exact or minhash near-dup; keeps the
      |                               minimum-id row of each group)
      |       graft drift <BASE> <CURRENT> --column COL
      |                               [--bins N] [--categorical]
      |                               [--source-type TYPE]
      |                               (PSI population-stability gate —
      |                               exit 1 at the >=0.25 action level)
      |       graft strip-exif <SOURCE> <TARGET> [--flags REPORT]
      |                               [--source-type TYPE]
      |                               (byte-exact APP1/APP2 removal from
      |                               JPEG media rows — GPS/serial PII
      |                               hygiene; --flags also writes the
      |                               per-image has_gps/has_serial report)
      |       graft cdx-host <ARCHIVE>... <HOST> [--out TARGET]
      |                               (bounds-pruned CDX host lookup over
      |                               one or more cdx-indexed WARC
      |                               archives, e.g. a week of dailies:
      |                               ranged point fetches, no shard
      |                               scan; --out writes the text shape,
      |                               else a summary table prints)
      |
      |Options:
      |  --transform <EXPRESSIONS>   Inline transforms, e.g. "c=row.a * 2; u=string.upper(row.b)"
      |  --transform-file <FILE>     Lua file with a 'transform(row)' function
      |  --schema-file <FILE>        YAML schema override (types, defaults, patterns)
      |  --preview <N>               Show schema + first N rows, no write
      |  --dry-run                   Validate source/target/transform, no write
      |  --truncate                  Truncate target before writing
      |  --batch-size <N>            Rows per batch (JDBC fetch/batch size)
      |  --skip-existing             Anti-join target on detected primary key
      |  --source-type <TYPE>        Force source type (csv|json|parquet|avro|orc)
      |  --source-secret-id <ID>     Password from env TINYETL_SECRET_<ID> for source
      |  --dest-secret-id <ID>       Password from env TINYETL_SECRET_<ID> for target
      |  --infer-schema <BOOL>       Auto-detect columns and types (default true)
      |  --decimal-mode <MODE>       double (default, reference parity) | exact
      |                              (write floating columns as DECIMAL(38,18))
      |  --quarantine <URI>          Route rows failing schema validation to this
      |                              dead-letter target (with _violations reasons)
      |                              instead of aborting; requires --schema-file
      |  --log-level <LEVEL>         info | warn | error (default info; error
      |                              for the subcommands above)
      |
      |Every flag that takes a value also accepts --flag=value.
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val exit =
      try {
        parse(args.toList) match {
          case Help          => println(usage); 0
          case Version       => println(versionLine); 0
          case GenDefault    => println(defaultConfig); 0
          case GenConfig(c)  => println(YamlJob.render(c)); 0
          case RunYaml(f) =>
            val r = YamlJob.load(f)
            r.curation match {
              case Some(cur) if cur.mode == "stream" =>
                runCurationStream(r.cfg, cur, r.preview, r.dryRun, r.logLevel)
              case Some(cur) => runCuration(r.cfg, cur, r.preview, r.dryRun, r.logLevel)
              case None => runTransfer(r.cfg, r.preview, r.dryRun, r.logLevel)
            }
          case p: Profile    => runProfile(p)
          case tk: TopKCmd   => runTopK(tk)
          case c: CheckCmd   => runCheck(c)
          case c: CompactCmd => runCompact(c)
          case m: ManifestCmd => runManifest(m)
          case sc: SampleCmd => runSample(sc)
          case lc: LinkageCmd => runLinkage(lc)
          case dc: DedupCmd  => runDedup(dc)
          case dr: DriftCmd  => runDrift(dr)
          case se: StripExifCmd => runStripExif(se)
          case ch: CdxHostCmd => runCdxHost(ch)
          case Transfer(c, p, d, ll) => runTransfer(c, p, d, ll)
        }
      } catch {
        case e: GraftError => System.err.println(e.render); 1
        case e: Exception  => System.err.println(s"Error: ${e.getMessage}"); 1
      }
    if (exit != 0) sys.exit(exit)
  }

  // ------------------------------ parsing ------------------------------

  /** One verb's command line: `values` are flags that take an argument
    * (the next token, or `--flag=value`), `switches` take none. Every
    * verb also takes `--log-level` (default `logLevel`) and, with
    * `sourceType`, `--source-type`. `build` turns the parsed flags into
    * the verb's [[Cmd]]; cross-flag rules live there. */
  private[graft] final case class Verb(name: String, values: Set[String],
      switches: Set[String] = Set.empty, logLevel: String = "error",
      sourceType: Boolean = true)(val build: Parsed => Cmd) {
    val argFlags: Set[String] =
      values + "--log-level" ++ Option.when(sourceType)("--source-type")
    def flags: Set[String] = argFlags ++ switches
  }

  /** A verb's arguments after the flag walk: every value a value flag
    * was given (in order), the switches seen and the positionals. */
  private[graft] final case class Parsed(verb: Verb,
      values: Map[String, Vector[String]] = Map.empty,
      switches: Set[String] = Set.empty,
      pos: Vector[String] = Vector.empty) {
    def add(flag: String, v: String): Parsed =
      copy(values = values.updated(flag, all(flag) :+ v))
    def all(flag: String): Vector[String] = values.getOrElse(flag, Vector.empty)
    /** The last value given for `flag`. */
    def apply(flag: String): Option[String] = all(flag).lastOption
    def has(switch: String): Boolean = switches(switch)
    def need(flag: String, meta: String): String =
      apply(flag).getOrElse(fail(s"${verb.name} needs $flag $meta"))
    /** A comma list, blanks dropped; empty when the flag is absent. */
    def list(flag: String): Seq[String] = apply(flag).fold(Seq.empty[String])(
      _.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    /** Every value of `flag` read and range-checked by `read`, else
      * "`flag` `want`, got 'v'"; the last one wins. */
    def typed[T](flag: String, want: String)(read: String => Option[T]): Option[T] =
      all(flag).map(v => read(v).getOrElse(fail(s"$flag $want, got '$v'")))
        .lastOption
    def int(flag: String, want: String = "needs an integer",
            ok: Int => Boolean = _ => true): Option[Int] =
      typed(flag, want)(_.toIntOption.filter(ok))
    def long(flag: String, want: String = "needs an integer"): Option[Long] =
      typed(flag, want)(_.toLongOption)
    def double(flag: String, want: String, ok: Double => Boolean): Option[Double] =
      typed(flag, want)(_.toDoubleOption.filter(ok))
    def logLevel: String =
      all("--log-level").map(YamlJob.checkLogLevel).lastOption
        .getOrElse(verb.logLevel)
    def sourceOptions: Map[String, String] =
      apply("--source-type").map("sourceType" -> _).toMap
    /** Exactly `n` positionals, else a typed error naming `what`. */
    def positional(n: Int, what: String): Vector[String] =
      if (pos.size > n)
        fail(s"unexpected argument(s): ${pos.drop(n).mkString(", ")}")
      else if (pos.size < n) fail(s"${verb.name} needs $what")
      else pos
  }

  private def fail(msg: String): Nothing = throw GraftError.Configuration(msg)

  /** Clap's `--infer-schema` takes an optional `true|false`: the one
    * switch that may consume the next token. */
  private val InferSchema = "--infer-schema"

  /** The one flag walk, left to right: a value flag takes the next
    * token verbatim (so a VALUE may look like a flag, e.g. a transform
    * body starting with `--`), and `--flag=value` splits only in flag
    * position and only for this verb's own value flags. */
  private def parseFlags(verb: Verb, args: List[String]): Parsed = {
    def splits(f: String) =
      verb.argFlags(f) || (f == InferSchema && verb.switches(f))
    @annotation.tailrec
    def walk(r: List[String], p: Parsed): Parsed = r match {
      case Nil => p
      case f :: v :: t if verb.argFlags(f) => walk(t, p.add(f, v))
      case InferSchema :: ("true" | "false") :: t if verb.switches(InferSchema) =>
        walk(t, p.copy(switches = p.switches + InferSchema))
      case s :: t if verb.switches(s) => walk(t, p.copy(switches = p.switches + s))
      case a :: t if a.startsWith("-") && a.indexOf('=') > 0 &&
          splits(a.take(a.indexOf('='))) =>
        val (f, eqValue) = a.splitAt(a.indexOf('='))
        walk(f :: eqValue.drop(1) :: t, p)
      case a :: _ if a.startsWith("--") =>
        val label = if (verb.name.isEmpty) "" else s"${verb.name} "
        fail(s"unknown or incomplete ${label}option '$a'")
      case a :: t => walk(t, p.copy(pos = p.pos :+ a))
    }
    walk(args, Parsed(verb))
  }

  /** The plain transfer (`graft <SOURCE> <TARGET> [OPTIONS]`), also the
    * flags of `generate-config`. */
  private[graft] val transfer: Verb = Verb("",
    Set("--transform", "--transform-file", "--schema-file", "--preview",
      "--batch-size", "--source-secret-id", "--dest-secret-id",
      "--decimal-mode", "--quarantine"),
    Set("--dry-run", "--truncate", "--skip-existing", InferSchema),
    logLevel = "info")(transferCmd)

  private[graft] val subcommands: Map[String, Verb] = Seq(
    Verb("profile", Set("--columns", "--histogram", "--bins", "--range"),
        Set("--exact", "--numeric")) { a =>
      val Seq(source) = a.positional(1, "a SOURCE")
      val hist = a("--histogram")
      if (a.has("--numeric") && hist.isDefined)
        fail("--numeric and --histogram are mutually exclusive")
      def range(v: String) = v.split(':') match {
        case Array(lo, hi) =>
          (lo.toDoubleOption, hi.toDoubleOption) match {
            case (Some(l), Some(h)) => (l, h)
            case _ => fail(s"--range needs LO:HI numbers, got '$v'")
          }
        case _ => fail(s"--range needs LO:HI, got '$v'")
      }
      Profile(source, a.list("--columns"), a.has("--exact"), a.sourceOptions,
        a.logLevel, a.has("--numeric"), hist, a.int("--bins").getOrElse(20),
        a("--range").map(range))
    },
    Verb("check", Set("--rules")) { a =>
      val Seq(source) = a.positional(1, "a SOURCE")
      CheckCmd(source, a.need("--rules", "FILE"), a.sourceOptions, a.logLevel)
    },
    Verb("compact", Set("--target-file-mb", "--cluster-by"),
        Set("--rebalance")) { a =>
      val Seq(src, tgt) = a.positional(2, "a SOURCE and a TARGET")
      val targetMb = a.int("--target-file-mb", "needs a positive integer",
        _ > 0).getOrElse(128)
      val clusterBy = a.list("--cluster-by")
      if (clusterBy.nonEmpty && a.has("--rebalance"))
        fail("--cluster-by and --rebalance are mutually exclusive")
      CompactCmd(src, tgt, targetMb, clusterBy, a.has("--rebalance"),
        a.sourceOptions, a.logLevel)
    },
    Verb("manifest", Set("--id", "--content", "--shards", "--seed")) { a =>
      val Seq(source) = a.positional(1, "a SOURCE")
      ManifestCmd(source, a.need("--id", "COL"), a.need("--content", "COL"),
        a.int("--shards", "needs a positive integer", _ >= 1).getOrElse(64),
        a.long("--seed").getOrElse(42L), a.sourceOptions, a.logLevel)
    },
    Verb("sample", Set("--id", "--fraction", "--k", "--weight", "--by",
        "--seed"), Set("--complement")) { a =>
      val Seq(src, tgt) = a.positional(2, "a SOURCE and a TARGET")
      val fraction = a.double("--fraction", "needs a number in [0,1]",
        f => f >= 0.0 && f <= 1.0)
      val k = a.int("--k", "needs a positive integer", _ >= 1)
      val weight = a("--weight")
      val by = a.list("--by")
      val complement = a.has("--complement")
      (fraction, k) match {
        case (Some(_), Some(_)) =>
          fail("--fraction and --k are mutually exclusive")
        case (None, None) => fail("sample needs --fraction F or --k N")
        case (Some(_), None) =>
          if (weight.isDefined || by.nonEmpty)
            fail("--weight/--by only apply to --k (weighted) sampling")
        case (None, Some(_)) =>
          if (weight.isEmpty)
            fail("--k needs --weight COL (use --fraction for unweighted)")
          if (complement)
            fail("--complement only applies to --fraction sampling")
      }
      SampleCmd(src, tgt, a.need("--id", "COL"), fraction, complement, k,
        weight, by, a.long("--seed").getOrElse(42L), a.sourceOptions,
        a.logLevel)
    },
    Verb("linkage", Set("--block", "--score", "--threshold",
        "--max-block")) { a =>
      val Seq(left, right, tgt) = a.positional(3, "LEFT RIGHT TARGET")
      // --score repeats: every occurrence appends its column pairs
      val score = a.all("--score").flatMap(
        _.split(',').map(_.trim).filter(_.nonEmpty).map { spec =>
          spec.split(':') match {
            case Array(l, r) => (l, r, 1.0)
            case Array(l, r, w) =>
              (l, r, w.toDoubleOption.filter(_ > 0).getOrElse(fail(
                s"--score weight must be a positive number, got '$w'")))
            case _ =>
              fail(s"--score expects LEFTCOL:RIGHTCOL[:WEIGHT], got '$spec'")
          }
        })
      val block = a.need("--block", "COL")
      if (score.isEmpty)
        fail("linkage needs --score LEFTCOL:RIGHTCOL[:WEIGHT][,...]")
      LinkageCmd(left, right, tgt, block, score,
        a.double("--threshold", "needs a number in [0,1]",
          x => x >= 0.0 && x <= 1.0).getOrElse(
          fail("linkage needs --threshold T")),
        a.int("--max-block", "needs a positive integer", _ >= 1)
          .getOrElse(10000),
        a.sourceOptions, a.logLevel)
    },
    Verb("dedup", Set("--id", "--content", "--text", "--threshold")) { a =>
      val Seq(src, tgt) = a.positional(2, "SOURCE TARGET")
      val content = a.list("--content")
      val text = a("--text")
      val threshold = a.double("--threshold", "needs a number in (0,1]",
        x => x > 0.0 && x <= 1.0).getOrElse(0.8)
      if (content.nonEmpty && text.nonEmpty)
        fail("dedup takes --content (exact) OR --text (near-dup), not both")
      if (content.isEmpty && text.isEmpty)
        fail("dedup needs --content c1[,c2,...] (exact) or --text COL (near-dup)")
      DedupCmd(src, tgt, a.need("--id", "COL"), content, text, threshold,
        a.sourceOptions, a.logLevel)
    },
    Verb("drift", Set("--column", "--bins"), Set("--categorical")) { a =>
      val Seq(base, current) = a.positional(2, "BASE CURRENT")
      DriftCmd(base, current, a.need("--column", "COL"),
        a.int("--bins", "needs an integer in [2,1000]",
          x => x >= 2 && x <= 1000).getOrElse(10),
        a.has("--categorical"), a.sourceOptions, a.logLevel)
    },
    Verb("strip-exif", Set("--flags")) { a =>
      val Seq(src, tgt) = a.positional(2, "SOURCE TARGET")
      StripExifCmd(src, tgt, a("--flags"), a.sourceOptions, a.logLevel)
    },
    Verb("cdx-host", Set("--out"), sourceType = false) { a =>
      // several day archives compose (sidecar-list union): every
      // positional but the last is an archive, the last is the host
      if (a.pos.size < 2) fail("cdx-host needs ARCHIVE... HOST")
      CdxHostCmd(a.pos.init, a.pos.last, a("--out"), a.logLevel)
    },
    Verb("topk", Set("--group", "--key", "--id", "-k"), Set("--asc")) { a =>
      val Seq(source) = a.positional(1, "a SOURCE")
      val groups = a.list("--group")
      if (groups.isEmpty) fail("topk needs --group columns")
      TopKCmd(source, groups, a.need("--key", "COL"), a.need("--id", "COL"),
        a.int("-k").getOrElse(5), a.has("--asc"), a.sourceOptions,
        a.logLevel)
    }
  ).map(v => v.name -> v).toMap

  def parse(args: List[String]): Cmd = args match {
    case Nil | ("--help" | "-h") :: _ => Help
    // clap accepts -V/--version in any position
    case a if a.contains("--version") || a.contains("-V") => Version
    case "generate-default-config" :: Nil => GenDefault
    case "generate-config" :: rest =>
      GenConfig(transferCmd(parseFlags(transfer, rest)).cfg)
    case "run" :: file :: Nil => RunYaml(file)
    case "run" :: _ => fail("run takes exactly one config file")
    case name :: rest if subcommands.contains(name) =>
      val verb = subcommands(name)
      verb.build(parseFlags(verb, rest))
    case rest => transfer.build(parseFlags(transfer, rest))
  }

  private def transferCmd(a: Parsed): Transfer = {
    if (a.pos.size > 2)
      // a stray flag value most likely (e.g. `--infer-schema yes`)
      fail(s"unexpected argument(s): ${a.pos.drop(2).mkString(", ")}\n\n" +
        "Usage: graft <SOURCE> <TARGET> [OPTIONS]\n" +
        "For more information, try '--help'")
    if (a.pos.size < 2)
      fail("SOURCE and TARGET are required.\n\n" +
        "Usage: graft <SOURCE> <TARGET> [OPTIONS]\n" +
        "   or: graft <COMMAND>\n\nFor more information, try '--help'")
    val Seq(source, target) = a.pos
    val logLevel = a.logLevel
    val transformFile = a("--transform-file")
    if (transformFile.isDefined && a("--transform").isDefined)
      System.err.println(
        "Warning: Both --transform-file and --transform specified. Using --transform-file.")
    val preview = a.int("--preview", "expects an integer")
    // JDBC read/write chunking + the file-sink analog (rows per file) —
    // shared with the YAML batch_size wiring
    val batchOpts = a.int("--batch-size", "expects an integer")
      .map(n => YamlJob.batchOptions(n.toString)).getOrElse(Map.empty)
    // plaintext-password warnings BEFORE injection, secret overrides
    // announced during it (secrets.rs:51-72; examples/12 asserts both)
    Secrets.warnPasswordInUrl(source, "source")
    Secrets.warnPasswordInUrl(target, "destination")
    val cfg = JobConfig(
      source = Secrets.inject(source, a("--source-secret-id"),
        warnOverrideFor = Some("source")),
      target = Secrets.inject(target, a("--dest-secret-id"),
        warnOverrideFor = Some("destination")),
      sourceOptions = batchOpts ++ a.sourceOptions,
      targetOptions = batchOpts,
      // --transform-file wins over --transform (cli.rs:183-191)
      transform = TransformSpec(
        inline = if (transformFile.isDefined) None else a("--transform"),
        file = transformFile),
      schemaFile = a("--schema-file"),
      truncate = a.has("--truncate"),
      skipExisting = a.has("--skip-existing"),
      decimalMode = a("--decimal-mode").getOrElse("double"),
      quarantine = a("--quarantine"))
    Transfer(cfg, preview, a.has("--dry-run"), logLevel)
  }

  // ------------------------------ actions ------------------------------

  /** Runs `body` in a Spark session at `logLevel`: a live default
    * session (tests, notebooks) is reused, and only a session this call
    * created is stopped. */
  private def withSession(logLevel: String)(body: SparkSession => Int): Int = {
    val preExisting = SparkSession.getDefaultSession.isDefined
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel.toUpperCase)
    try body(spark) finally if (!preExisting) spark.stop()
  }

  /** Progress line on stderr at `--log-level info`; the message is
    * by-name, so a costly one (a plan's column count) is never built at
    * quieter levels. */
  private def info(logLevel: String, msg: => String): Unit =
    if (logLevel == "info") System.err.println(msg)

  /** Runs a transfer/preview/dry-run; returns the process exit code. */
  def runTransfer(cfg: JobConfig, preview: Option[Int], dryRun: Boolean,
                  logLevel: String): Int = withSession(logLevel) { spark =>
    val engine = new TransferEngine(cfg)
    info(logLevel, s"→ Source: ${cfg.source}")
    info(logLevel, s"→ Target: ${cfg.target}")
    preview match {
      case Some(n) => println(engine.preview(spark, n)); 0
      case None if dryRun =>
        val schema = engine.dryRun(spark)
        println(s"Dry run OK: ${schema.fields.length} columns, " +
          s"source and target validated")
        0
      case None =>
        info(logLevel, s"→ ${engine.plan(spark).schema.fields.length} columns detected")
        val stats = engine.execute(spark)
        println("Transfer completed successfully!")
        println(f"Processed ${stats.totalRows} rows in ${stats.seconds}%.2fs " +
          f"(${stats.rowsPerSecond}%.0f rows/sec)")
        if (stats.rejectedRows > 0)
          println(s"Quarantined ${stats.rejectedRows} rows with " +
            "validation violations")
        0
    }
  }

  /** Train the `lang_id:` stage's classifier from its seed source —
    * the (model, classStats, allow) triple Curation.PipelineConfig
    * takes. Shared by batch and stream curation (training is always
    * a batch pass over the static seed). */
  private def trainLangId(spark: SparkSession, spec: YamlJob.LangIdSpec)
      : (DataFrame, DataFrame, Seq[String]) = {
    val seed = Connectors.read(spark, spec.seedUri, Map.empty)
    val (model, stats) = graft.llm.LangId.train(
      seed, spec.textColumn, spec.labelColumn, vocabSize = spec.vocabSize)
    (model, stats, spec.allow)
  }

  /** The one `curation:` spec → [[graft.llm.Curation.PipelineConfig]]
    * mapping, shared by batch and stream runs: every knob is forwarded,
    * so [[graft.llm.Curation.pipelineStream]] rejects the corpus-wide
    * ones itself instead of a stream run silently ignoring them. Side
    * frames (probe corpora, DSIR target, reference snapshot) read
    * through the same connector factory as any source and are STATIC
    * in a stream run: collected into per-row probes or joined
    * stream-static; the lang-id model trains batch-side from its seed. */
  private def pipelineConfig(spark: SparkSession, cur: YamlJob.CurationSpec)
      : graft.llm.Curation.PipelineConfig = {
    import graft.llm.Sampling
    // one frame per distinct URI: two stages naming the same side
    // input share its read (and its parquet schema job)
    val frames = scala.collection.mutable.Map.empty[String, DataFrame]
    def read(uri: String) =
      frames.getOrElseUpdate(uri, Connectors.read(spark, uri, Map.empty))
    val probeFrames = cur.contamination.map(cs => read(cs.probesUri))
    val dsirFrames = cur.dsir.map(ds => read(ds.targetUri))
    val exciseFrames = cur.decontaminateExcise.map(es => read(es.probesUri))
    val fuzzyFrames = cur.decontaminateFuzzy.map(fs => read(fs.probesUri))
    val refFrame = cur.referenceUri.map(read)
    val langIdFrames = cur.langId.map(trainLangId(spark, _))
    graft.llm.Curation.PipelineConfig(
      blocklist = cur.blocklist,
      maxDupWordFrac = cur.maxDupWordFrac,
      maxDupNgramFrac = cur.maxDupNgramFrac,
      maxTopNgramFrac = cur.maxTopNgramFrac,
      repetitionN = cur.repetitionN,
      sampleFraction = cur.sampleFraction,
      bucketFn =
        if (cur.portableBucket) Sampling.portableBucket else Sampling.bucket,
      persistSurvivors = cur.persistSurvivors,
      stripTrackingParams = cur.stripTrackingParams,
      consent = cur.consent,
      consentNoindex = cur.consentNoindex,
      stripHtml = cur.stripHtml,
      stripMarkdown = cur.stripMarkdown,
      fixMojibake = cur.fixMojibake,
      normalizeUnicode = cur.normalizeUnicode,
      langId = langIdFrames,
      lineDedupMinDocs = cur.lineDedupMinDocs,
      substringDedupWindow = cur.substringDedupWindow,
      softDedup = cur.softDedup,
      compressionBand = cur.compressionBand,
      referenceSnapshot = refFrame,
      referenceNearDup = cur.referenceNearDup,
      referenceBloom = cur.referenceBloom,
      gopherRules = cur.gopherRules,
      c4Rules = cur.c4Rules.isDefined,
      c4MinWordsPerLine = cur.c4Rules.map(_.minWordsPerLine).getOrElse(5),
      c4MinSentences = cur.c4Rules.map(_.minSentences).getOrElse(3),
      c4BadWords = cur.c4Rules.map(_.badWords).getOrElse(Nil),
      decontaminateExciseProbes = exciseFrames,
      decontaminateExciseWindow =
        cur.decontaminateExcise.map(_.window).getOrElse(50),
      decontaminateExciseProbeTextCol =
        cur.decontaminateExcise.map(_.textColumn).getOrElse("text"),
      decontaminateFuzzyProbes = fuzzyFrames,
      decontaminateFuzzyK = cur.decontaminateFuzzy.map(_.k).getOrElse(16),
      decontaminateFuzzyW = cur.decontaminateFuzzy.map(_.w).getOrElse(32),
      decontaminateFuzzyProbeTextCol =
        cur.decontaminateFuzzy.map(_.textColumn).getOrElse("text"),
      dsirTarget = dsirFrames,
      dsirK = cur.dsir.map(_.k).getOrElse(0),
      dsirTargetTextCol = cur.dsir.map(_.textColumn).getOrElse("text"),
      dsirBuckets = cur.dsir.map(_.buckets).getOrElse(10000),
      dsirSeed = cur.dsir.map(_.seed).getOrElse(42L),
      contaminationProbes = probeFrames,
      contaminationProbeTextCol =
        cur.contamination.map(_.textColumn).getOrElse("text"),
      contaminationN = cur.contamination.map(_.n).getOrElse(8),
      maxContamination = cur.contamination.map(_.max).getOrElse(0.2),
      tokenBudget = cur.tokenBudget,
      tokenBudgetShards = cur.tokenBudgetShards)
  }

  /** Runs a YAML job with a `curation:` section: the surrounding job's
    * source/schema/transform stages build the input frame (so one file
    * can clean, reshape, THEN curate), [[graft.llm.Curation.pipeline]]
    * filters it, and the write goes either through the normal target
    * connector or — when `shards:` is configured — through
    * [[graft.llm.Shuffling.writeShards]] as deterministic training
    * shards (always parquet, `shard=N` directories). Preview/dry-run
    * apply to the CURATED frame, same no-write contract as transfers. */
  def runCuration(cfg: JobConfig, cur: YamlJob.CurationSpec,
                  preview: Option[Int], dryRun: Boolean,
                  logLevel: String): Int = {
    import graft.llm.{Curation, Shuffling}
    withSession(logLevel) { spark =>
      info(logLevel, s"→ Source: ${cfg.source}")
      info(logLevel, s"→ Target: ${cfg.target}")
      // read → validate → transform, the transfer engine's exact plan
      val input = new TransferEngine(cfg).plan(spark)
      val pc = pipelineConfig(spark, cur)
      // preview/dry-run are no-write modes and use the lazy pipeline
      // even when `observed` is set (stage counts only make sense for a
      // run that actually materializes the corpus); persistSurvivors is
      // dropped too — its eager checkpoint would run the filter stages
      // over the WHOLE corpus before showing 5 rows
      val lazyPc = pc.copy(persistSurvivors = false)
      preview match {
        case Some(n) =>
          val curated = Curation.pipeline(input, cur.idColumn, cur.textColumn, lazyPc)
          println("\nCurated Schema Preview:")
          println(graft.engine.PreviewFormat.schemaBox(curated.schema))
          println(s"Data Preview ($n rows):")
          println(graft.engine.PreviewFormat.dataTable(
            curated.columns, curated.limit(n).collect()))
          0
        case None if dryRun =>
          val curated = Curation.pipeline(input, cur.idColumn, cur.textColumn, lazyPc)
          curated.limit(10).collect() // smoke-execute the pipeline head
          println(s"Dry run OK: ${curated.schema.fields.length} columns, " +
            "curation pipeline validated")
          0
        case None =>
          val t0 = System.nanoTime()
          val (curated, stageCounts) =
            if (cur.observed) {
              val (df, c) = Curation.pipelineObserved(
                input, cur.idColumn, cur.textColumn, pc)
              (df, Some(c))
            } else
              (Curation.pipeline(input, cur.idColumn, cur.textColumn, pc), None)
          val write: DataFrame => Option[Long] = cur.shards match {
            case Some(s) => df =>
              Shuffling.writeShards(df, cur.idColumn, cfg.target,
                s.seed, s.count)
              None
            case None =>
              // a `.tar(.gz)` curation target writes WebDataset shards:
              // the curated document frame maps to samples by the job's
              // own id/text columns (extra columns ride in <key>.json) —
              // the crawl-in → training-shards-out composition
              val ref = Connectors.parse(cfg.target, cfg.targetOptions)
              if (ref.kind == "tar") {
                // the fast path bypasses Connectors.write, which would
                // silently drop target options — reject them loudly
                // instead of ignoring what the YAML asked for; the
                // overwrite itself follows the documented reference
                // rule for non-appendable targets (exists ∧ ¬appendable
                // → overwrite, transfer.rs:92-118), truncate or not
                if (cfg.targetOptions.nonEmpty)
                  throw GraftError.Configuration(
                    "a .tar curation target takes no target options " +
                      s"(got ${cfg.targetOptions.keys.mkString(", ")}); " +
                      "shard layout is fixed by the WebDataset contract")
                df => Some(graft.sources.TarSource.writeDocuments(
                  df, ref.path, cur.idColumn, cur.textColumn,
                  gzip = ref.path.endsWith(".gz")))
              } else
                Connectors.write(_, cfg.target, cfg.truncate, cfg.targetOptions)
          }
          val rows = Connectors.countedWrite(curated, cfg.target)(write)
          stageCounts.foreach { c =>
            val m = c()
            println("Curation stage counts:")
            // fixed stage order; optional stages appear when configured
            Seq("input", "after_urls", "after_repetition",
              "after_reference", "after_dedup",
              "after_decontamination", "after_dsir", "kept")
              .filter(m.contains).foreach(k =>
                println(f"  $k%-22s ${m(k)}%10d"))
          }
          println("Curation completed successfully!")
          val secs = (System.nanoTime() - t0) / 1e9
          val shardNote = cur.shards.map(s => s" into ${s.count} shards").getOrElse("")
          println(f"Kept $rows rows$shardNote in $secs%.2fs")
          0
      }
    }
  }

  /** Runs a YAML job with `curation: mode: stream` — the continuous-
    * ingest shape: [[Connectors.readStream]] supplies the
    * source frame, the surrounding job's validate/transform stages run
    * per micro-batch ([[TransferEngine.planOver]]), the per-row curation
    * stages + watermark-bounded dedup stream through
    * [[graft.llm.Curation.pipelineStream]], and the file sink writes
    * under the YAML's `checkpoint` for exactly-once output. `trigger:
    * available_now` (default) drains what exists and exits — the
    * testable run shape; an interval string (e.g. "30 seconds") runs
    * until killed. Batch-only knobs (observed, shards, preview/dry-run,
    * skip_existing, and the corpus-wide pipeline stages) are rejected
    * loudly. */
  def runCurationStream(cfg: JobConfig, cur: YamlJob.CurationSpec,
                        preview: Option[Int], dryRun: Boolean,
                        logLevel: String): Int = {
    import graft.llm.Curation
    import org.apache.spark.sql.streaming.Trigger
    if (preview.isDefined || dryRun)
      throw GraftError.Configuration(
        "preview/dry_run are batch modes — run the same YAML with " +
          "curation mode: batch to inspect the pipeline")
    if (cur.observed)
      throw GraftError.Configuration(
        "observed stage counts need a batch run (streaming observations " +
          "never finalize); use curation mode: batch")
    if (cur.shards.isDefined)
      throw GraftError.Configuration(
        "shards need a batch run (the deterministic global shuffle is " +
          "corpus-wide); use curation mode: batch over the stream's output")
    // required by the YAML loader for mode: stream — guard for API callers
    val tsCol = cur.tsColumn.getOrElse(throw GraftError.Configuration(
      "curation mode=stream needs ts_column"))
    val checkpoint = cur.checkpoint.getOrElse(throw GraftError.Configuration(
      "curation mode=stream needs checkpoint"))
    withSession(logLevel) { spark =>
      info(logLevel, s"→ Source (stream): ${cfg.source}")
      info(logLevel, s"→ Target: ${cfg.target}")
      val src = Connectors.readStream(
        spark, cfg.source, cfg.sourceOptions)
      val input = new TransferEngine(cfg).planOver(spark, src)
      val pc = pipelineConfig(spark, cur)
      val curated = Curation.pipelineStream(
        input, cur.idColumn, cur.textColumn, tsCol, cur.dedupHorizon, pc)
      // an extension-less target is a parquet directory — the same
      // default layout the batch curation shard writer produces
      val ref =
        try Connectors.parse(cfg.target, cfg.targetOptions)
        catch {
          case _: Connectors.UnsupportedUri =>
            Connectors.Ref("parquet", cfg.target)
        }
      val fmt = ref.kind match {
        case k @ ("parquet" | "orc" | "csv" | "json") => k
        case other => throw GraftError.Configuration(
          s"streaming target must be a parquet/orc/csv/json directory, " +
            s"got '$other' (uri '${cfg.target}')")
      }
      val trig =
        if (cur.trigger == "available_now") Trigger.AvailableNow()
        else Trigger.ProcessingTime(cur.trigger)
      val q = curated.writeStream
        .format(fmt)
        .option("path", ref.path)
        .option("checkpointLocation", checkpoint)
        .options(cfg.targetOptions - "sourceType")
        .trigger(trig)
        .start()
      q.awaitTermination()
      println("Streaming curation completed successfully!")
      0
    }
  }

  /** `graft profile SOURCE`: read through the connector factory, run
    * the one-pass [[graft.operators.TableProfile]] summary, render it
    * in the reference's data-table box. HLL distinct counts by default
    * (safe on any size); `--exact` opts into the Expand-based exact
    * counts for small tables. `--numeric` switches to the
    * mean/stddev/quartile distribution report (over `--columns` or
    * every numeric column); `--histogram COL [--bins N] [--range
    * LO:HI]` prints an equi-width bin table. */
  def runProfile(p: Profile): Int = withSession(p.logLevel) { spark =>
    val df = Connectors.read(spark, p.source, p.sourceOptions)
    val prof = p.histogram match {
      case Some(c) =>
        println(s"\nHistogram: ${p.source} [$c], ${p.bins} bins" +
          p.range.map { case (lo, hi) => s", range $lo..$hi" }
            .getOrElse(" (data-driven range)"))
        graft.operators.TableProfile.histogram(df, c, p.bins,
          p.range.map(_._1), p.range.map(_._2)).orderBy("bin")
      case None if p.numeric =>
        val cols =
          if (p.columns.nonEmpty) p.columns
          else df.schema.fields.collect {
            case f if f.dataType.isInstanceOf[
              org.apache.spark.sql.types.NumericType] => f.name
          }.toSeq
        if (cols.isEmpty)
          throw GraftError.Configuration(
            s"no numeric columns in ${p.source}")
        println(s"\nNumeric profile: ${p.source}" +
          (if (p.exact) " (exact)" else " (approx quantiles)"))
        graft.operators.TableProfile.numericProfile(df, cols, p.exact)
      case None =>
        println(s"\nProfile: ${p.source}" +
          (if (p.exact) " (exact distinct)" else " (approx distinct)"))
        graft.operators.TableProfile.summarize(df, p.columns, p.exact)
    }
    println(graft.engine.PreviewFormat.dataTable(prof.columns.toSeq,
      prof.collect()))
    0
  }

  /** `graft check SOURCE --rules rules.yaml`: the data-quality CI gate —
    * run the YAML-declared [[graft.operators.QualityChecks]] suite over
    * any readable source, print the verdict table, exit 1 if any check
    * failed (so a pipeline can gate a publish step on it). Foreign-key
    * `ref:` URIs resolve through the same connector factory as the
    * source. */
  def runCheck(c: CheckCmd): Int = withSession(c.logLevel) { spark =>
    val df = Connectors.read(spark, c.source, c.sourceOptions)
    val yaml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(c.rulesFile)), "UTF-8")
    val checks = graft.operators.QualityChecks.fromYaml(yaml,
      ref => Connectors.read(spark, ref, Map.empty))
    val out = graft.operators.QualityChecks.run(df, checks)
    val rows = out.collect()
    println(s"\nQuality checks: ${c.source} (${checks.size} checks)")
    println(graft.engine.PreviewFormat.dataTable(out.columns.toSeq, rows))
    val failed = rows.count(r => !r.getBoolean(r.fieldIndex("passed")))
    if (failed == 0) { println("All checks passed"); 0 }
    else { println(s"$failed check(s) FAILED"); 1 }
  }

  /** `graft compact SOURCE TARGET`: small-file rewrite. Sizes the
    * output from the input directory's ACTUAL bytes (driver-side
    * listing, no data scan); `--cluster-by` upgrades the rewrite to a
    * range+sort layout pass so future scans get min/max data skipping
    * on those keys. Prints before/after file stats. */
  def runCompact(c: CompactCmd): Int = withSession(c.logLevel) { spark =>
    // compaction's normal inputs/outputs are extension-less parquet
    // DIRECTORIES; default the format instead of failing dispatch
    // (an explicit extension or --source-type still wins)
    val opts =
      if (c.sourceOptions.contains("sourceType")) c.sourceOptions
      else c.sourceOptions + ("sourceType" -> "parquet")
    val before = graft.operators.Compaction.dirStats(spark, c.source)
    val df = Connectors.read(spark, c.source, opts)
    val n = graft.operators.Compaction.targetPartitions(
      before.bytes, c.targetFileMb.toLong << 20)
    val out = graft.operators.Compaction.compact(
      df, n, c.clusterBy, c.rebalance)
    // mirror the source-side default: parquet only when the target
    // has no recognizable extension — `graft compact in out.csv`
    // must write CSV, not parquet files into a path named out.csv
    val tgtOpts =
      if (scala.util.Try(Connectors.parse(c.target)).isSuccess)
        Map.empty[String, String]
      else Map("sourceType" -> "parquet")
    Connectors.write(out, c.target, truncate = true, options = tgtOpts)
    val after = graft.operators.Compaction.dirStats(spark, c.target)
    val mode =
      if (c.clusterBy.nonEmpty) s"cluster-by ${c.clusterBy.mkString(",")}"
      else if (c.rebalance) "rebalance" else "coalesce"
    println(s"\nCompacted ${c.source} -> ${c.target} ($mode, " +
      s"target ${c.targetFileMb} MB/file)")
    println(s"  before: ${before.files} files, ${before.bytes} bytes " +
      s"(${before.smallFiles} under 32 MB)")
    println(s"  after:  ${after.files} files, ${after.bytes} bytes")
    0
  }

  /** `graft manifest SOURCE --id COL --content COL`: print the
    * per-shard reproducibility manifest ([[graft.llm.Shuffling
    * .shardManifest]]) — the artifact a training run records next to
    * its shards so a resume or audit can prove it reads the same
    * corpus in the same partitioning. */
  def runManifest(m: ManifestCmd): Int = withSession(m.logLevel) { spark =>
    val df = Connectors.read(spark, m.source, m.sourceOptions)
    val out = graft.llm.Shuffling.shardManifest(
      df, m.id, m.content, m.seed, m.shards).orderBy("shard")
    println(s"\nShard manifest: ${m.source} " +
      s"(${m.shards} shards, seed ${m.seed})")
    println(graft.engine.PreviewFormat.dataTable(out.columns.toSeq,
      out.collect()))
    0
  }

  /** `graft sample SOURCE TARGET`: deterministic sampling as a CLI
    * step — `--fraction` routes to the hash-threshold sampler (same
    * id ⇒ same decision forever; `--complement` gives the held-out
    * rest), `--k --weight` to the exact-k Efraimidis-Spirakis pick
    * (optionally per `--by` group). */
  def runSample(sc: SampleCmd): Int = withSession(sc.logLevel) { spark =>
    val df = Connectors.read(spark, sc.source, sc.sourceOptions)
    // seed via a hashed xxhash64 prefix, NOT arithmetic on the id —
    // `id + seed` contracts on numeric ids (string ids throw a raw
    // CAST under ANSI or silently hash NULL without it)
    val bucketFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      graft.llm.Sampling.bucketSeeded(sc.seed)
    val (out, what) = (sc.fraction, sc.k) match {
      case (Some(f), _) if sc.complement =>
        (graft.llm.Sampling.byHashComplement(df, sc.id, f, bucketFn),
          s"complement of fraction $f")
      case (Some(f), _) =>
        (graft.llm.Sampling.byHash(df, sc.id, f, bucketFn),
          s"fraction $f")
      case (_, Some(kk)) if sc.by.nonEmpty =>
        (graft.llm.Sampling.weightedSamplePerGroup(df, sc.by, sc.id,
          sc.weight.get, kk, sc.seed),
          s"k=$kk per (${sc.by.mkString(",")}) weighted by ${sc.weight.get}")
      case (_, Some(kk)) =>
        (graft.llm.Sampling.weightedSample(df, sc.id, sc.weight.get,
          kk, sc.seed), s"k=$kk weighted by ${sc.weight.get}")
      case _ => throw GraftError.Configuration("unreachable: parse guards")
    }
    val n = Connectors.countedWrite(out, sc.target)(
      Connectors.write(_, sc.target, truncate = true))
    println(s"\nSampled ${sc.source} -> ${sc.target} ($what, " +
      s"seed ${sc.seed}): $n rows")
    0
  }

  /** `graft linkage`: blocked fuzzy-match join (entity resolution) from
    * the CLI — LEFT and RIGHT read from any source, candidates blocked
    * on `--block`, scored by weighted Jaro-Winkler over `--score`
    * column pairs, matches >= `--threshold` written to TARGET. */
  def runLinkage(lc: LinkageCmd): Int = withSession(lc.logLevel) { spark =>
    val left = Connectors.read(spark, lc.left, lc.sourceOptions)
    val right = Connectors.read(spark, lc.right, lc.sourceOptions)
    val out = graft.operators.RecordLinkage.fuzzyJoin(
      left, right, lc.block, lc.score, lc.threshold, lc.maxBlock)
    val n = Connectors.countedWrite(out, lc.target)(
      Connectors.write(_, lc.target, truncate = true))
    val fields = lc.score.map { case (l, r, w) => s"$l~$r(w=$w)" }
    println(s"\nLinked ${lc.left} >< ${lc.right} -> ${lc.target} " +
      s"(block ${lc.block}, ${fields.mkString(", ")}, " +
      s"threshold ${lc.threshold}): $n matched pairs")
    0
  }

  /** `graft dedup`: exact (--content) or minhash near-dup (--text)
    * deduplication of any readable source — survivors are the
    * canonical (minimum-id) row of each duplicate group/component,
    * written with their FULL original columns (the component frame is
    * keys-only; full rows come back via one semi-join on the id). */
  def runDedup(dc: DedupCmd): Int = withSession(dc.logLevel) { spark =>
    import org.apache.spark.sql.functions.col
    val df = Connectors.read(spark, dc.source, dc.sourceOptions)
    val comps = dc.text match {
      case Some(t) =>
        graft.llm.Dedup.minhashDedupConnected(df, dc.id, t,
          threshold = dc.threshold)
      case None =>
        graft.llm.Dedup.exact(df, dc.id, dc.content)
    }
    val survivors = comps.filter(!col("is_duplicate"))
      .select(col(dc.id))
    val out = df.join(survivors, Seq(dc.id), "left_semi")
    val kept = Connectors.countedWrite(out, dc.target)(
      Connectors.write(_, dc.target, truncate = true))
    val total = df.count()
    val mode = dc.text match {
      case Some(t) => s"near-dup on $t (threshold ${dc.threshold})"
      case None => s"exact on ${dc.content.mkString(", ")}"
    }
    println(s"\nDeduplicated ${dc.source} -> ${dc.target} ($mode): " +
      s"$total rows in, $kept kept, ${total - kept} duplicates dropped")
    0
  }

  /** `graft drift`: PSI population-stability gate between two readable
    * snapshots — print the per-bin detail + summary, exit 1 when the
    * index reaches the conventional action level (≥ 0.25), so a
    * pipeline can gate retraining/publishes on feature drift exactly
    * like `graft check` gates data quality. */
  def runDrift(dr: DriftCmd): Int = withSession(dr.logLevel) { spark =>
    val base = Connectors.read(spark, dr.base, dr.sourceOptions)
    val cur = Connectors.read(spark, dr.current, dr.sourceOptions)
    val detail =
      if (dr.categorical)
        graft.operators.Drift.psiCategorical(base, cur, dr.column)
      else
        graft.operators.Drift.psiNumeric(base, cur, dr.column, dr.bins)
    val d = detail.orderBy("bin")
    println(s"\nDrift: ${dr.base} -> ${dr.current} on ${dr.column} " +
      (if (dr.categorical) "(categorical)" else s"(${dr.bins} bins)"))
    println(graft.engine.PreviewFormat.dataTable(d.columns.toSeq,
      d.collect()))
    val s = graft.operators.Drift.psiSummary(detail).collect()(0)
    val psi = s.getAs[Double]("psi")
    val level = s.getAs[String]("level")
    println(s"PSI = $psi ($level)")
    if (level == "action") 1 else 0
  }

  /** `graft strip-exif`: PII hygiene over a media table — rewrite image
    * rows' JPEG payloads with every APP1 (EXIF/XMP) and APP2 (ICC)
    * segment removed byte-exactly (pixels untouched, non-JPEG and
    * unparseable payloads pass through), write the result to TARGET,
    * and optionally write the per-image flag report (`--flags`:
    * media_id, parsed, has_exif, has_gps, has_serial, exif_tags) so a
    * pipeline can count or quarantine geo-tagged images. */
  def runStripExif(se: StripExifCmd): Int = withSession(se.logLevel) { spark =>
    val df = Connectors.read(spark, se.source, se.sourceOptions)
    Seq("media_id", "media_type", "payload").foreach { c =>
      if (!df.columns.contains(c))
        throw GraftError.Configuration(
          s"strip-exif needs a media table with a '$c' column " +
            s"(found: ${df.columns.mkString(", ")})")
    }
    val out = graft.llm.Exif.stripExif(df)
    Connectors.write(out, se.target, truncate = true)
    val written = Connectors.read(spark, se.target, Map.empty)
    val n = written.count()
    val changed = written.filter(org.apache.spark.sql.functions
      .col("stripped")).count()
    se.flagsOut.foreach { path =>
      Connectors.write(
        graft.llm.Exif.exifFlags(df), path, truncate = true)
    }
    println(s"\nStripped ${se.source} -> ${se.target}: $n rows, " +
      s"$changed payloads rewritten" +
      se.flagsOut.map(p => s"; flags -> $p").getOrElse(""))
    0
  }

  /** `graft cdx-host`: the SURT-adjacency host lookup as a CLI verb —
    * bounds-pruned CDX range scan + ranged point fetches over a
    * `WarcSource.write(cdxIndex = true)` archive (never a shard scan).
    * With `--out` the fetched records land as the readText text shape
    * (target_uri, warc_date, http_status, text) at TARGET through the
    * connector factory; without it a summary table prints (first 20 by
    * URI, 40-char text heads) plus the record count. */
  def runCdxHost(ch: CdxHostCmd): Int = withSession(ch.logLevel) { spark =>
    import org.apache.spark.sql.functions._
    val recs = graft.sources.CdxIndex.lookupHost(spark, ch.archives, ch.host)
    val text = recs.select(
      col("target_uri"), col("warc_date"), col("http_status"),
      graft.sources.WarcSource.textCol.as("text"))
    ch.out match {
      case Some(t) =>
        val n = Connectors.countedWrite(text, t)(
          Connectors.write(_, t, truncate = true))
        println(s"\ncdx-host ${ch.host}: $n records -> $t")
      case None =>
        // one persisted pass: the preview AND the count otherwise
        // each re-run the whole sidecar scan + ranged-fetch pipeline
        // — the dominant cost this verb exists to minimize
        text.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val head = text.orderBy("target_uri").limit(20)
            .select(col("target_uri"), col("warc_date"), col("http_status"),
              substring(col("text"), 1, 40).as("text_head"))
          println(s"\ncdx-host ${ch.host} over ${ch.archives.mkString(", ")}:")
          println(graft.engine.PreviewFormat.dataTable(head.columns.toSeq,
            head.collect()))
          println(s"${text.count()} records")
        } finally text.unpersist(blocking = false)
    }
    0
  }

  /** `graft topk`: grouped top-k over any readable source, printed in
    * the reference's preview box layout. */
  def runTopK(tk: TopKCmd): Int = withSession(tk.logLevel) { spark =>
    val df = Connectors.read(spark, tk.source, tk.sourceOptions)
    println(s"\nTop ${tk.k} per (${tk.groups.mkString(", ")}) by " +
      s"${tk.key} ${if (tk.asc) "ascending" else "descending"}: ${tk.source}")
    val out = graft.operators.GroupTopK.topK(df, tk.groups, tk.key, tk.id,
        tk.k, desc = !tk.asc)
      .orderBy((tk.groups.map(org.apache.spark.sql.functions.col) :+
        org.apache.spark.sql.functions.col("rank")): _*)
    println(graft.engine.PreviewFormat.dataTable(out.columns.toSeq,
      out.collect()))
    0
  }

  /** generate-default-config template (main.rs:88-155 parity). */
  val defaultConfig: String =
    """# graft default configuration example
      |# ------------------------------------
      |# Customize, save as config.yaml, then run: graft run config.yaml
      |# Generate from CLI args: graft generate-config SOURCE TARGET > config.yaml
      |# ${VAR_NAME} substitutes environment variables at load time.
      |
      |version: "1.0"
      |
      |source:
      |  uri: "employees.csv"          # file path or connection string
      |  # options:
      |  #   header.User-Agent: "graft/0.1"
      |  #   auth.basic.username: "user"
      |  #   auth.basic.password: "${PASSWORD}"
      |  #   auth.bearer: "${BEARER_TOKEN}"
      |
      |target:
      |  uri: "employees.parquet"      # or postgres://user@host/db#table
      |
      |options:
      |  # batch_size: 10000
      |  # preview: 10
      |  # dry_run: false
      |  # log_level: info
      |  # source_type: csv
      |  # transform:
      |  #   type: inline              # inline | script | file | none
      |  #   value: "full_name=row.first .. ' ' .. row.last"
      |  # schema_file: "schema.yaml"
      |  truncate: false
      |""".stripMargin
}
