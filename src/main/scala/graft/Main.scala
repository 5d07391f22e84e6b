package graft

import graft.core.GraftError
import graft.engine.{JobConfig, Secrets, TransferEngine, TransformSpec, YamlJob}

import org.apache.spark.sql.SparkSession

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
      |  --log-level <LEVEL>         info | warn | error (default info)
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

  /** Flags that take a value and therefore accept the `--flag=value`
    * form (README uses `--source-type=csv`). ONLY these split on '=' —
    * an eager split would corrupt option VALUES that start with `--`
    * and contain '=' (e.g. a transform body beginning with a Lua
    * comment). */
  private val valueFlags = Set(
    "--transform", "--transform-file", "--schema-file", "--preview",
    "--batch-size", "--source-type", "--source-secret-id",
    "--dest-secret-id", "--log-level", "--infer-schema", "--decimal-mode",
    "--quarantine", "--columns", "--out")

  def parse(rawArgs: List[String]): Cmd = {
    val args = rawArgs.flatMap { a =>
      val i = a.indexOf('=')
      if (i > 0 && valueFlags(a.take(i))) List(a.take(i), a.drop(i + 1))
      else List(a)
    }
    parseSplit(args)
  }

  private def parseSplit(args: List[String]): Cmd = args match {
    case Nil | ("--help" | "-h") :: _ => Help
    // clap accepts -V/--version in any position
    case a if a.contains("--version") || a.contains("-V") => Version
    case "generate-default-config" :: Nil => GenDefault
    case "generate-config" :: rest =>
      val (cfg, _, _, _) = parseTransferArgs(rest)
      GenConfig(cfg)
    case "run" :: file :: Nil => RunYaml(file)
    case "run" :: _ =>
      throw GraftError.Configuration("run takes exactly one config file")
    case "profile" :: rest =>
      var source: Option[String] = None
      var columns = Seq.empty[String]
      var exact = false
      var srcType: Option[String] = None
      var plogLevel = "error"
      var numeric = false
      var hist: Option[String] = None
      var bins = 20
      var range: Option[(Double, Double)] = None
      @annotation.tailrec
      def ploop(r: List[String]): Unit = r match {
        case Nil => ()
        case "--columns" :: v :: t =>
          columns = v.split(',').map(_.trim).filter(_.nonEmpty).toSeq; ploop(t)
        case "--exact" :: t => exact = true; ploop(t)
        case "--numeric" :: t => numeric = true; ploop(t)
        case "--histogram" :: v :: t => hist = Some(v); ploop(t)
        case "--bins" :: v :: t =>
          bins = v.toIntOption.getOrElse(throw GraftError.Configuration(
            s"--bins needs an integer, got '$v'")); ploop(t)
        case "--range" :: v :: t =>
          range = Some(v.split(':') match {
            case Array(lo, hi) =>
              (lo.toDoubleOption, hi.toDoubleOption) match {
                case (Some(l), Some(h)) => (l, h)
                case _ => throw GraftError.Configuration(
                  s"--range needs LO:HI numbers, got '$v'")
              }
            case _ => throw GraftError.Configuration(
              s"--range needs LO:HI, got '$v'")
          }); ploop(t)
        case "--source-type" :: v :: t => srcType = Some(v); ploop(t)
        case "--log-level" :: v :: t =>
          plogLevel = YamlJob.checkLogLevel(v); ploop(t)
        case flag :: _ if flag.startsWith("--") =>
          throw GraftError.Configuration(
            s"unknown or incomplete profile option '$flag'")
        case v :: t if source.isEmpty => source = Some(v); ploop(t)
        case v :: _ =>
          throw GraftError.Configuration(s"unexpected argument '$v'")
      }
      ploop(rest)
      if (numeric && hist.isDefined)
        throw GraftError.Configuration(
          "--numeric and --histogram are mutually exclusive")
      Profile(source.getOrElse(throw GraftError.Configuration(
          "profile needs a SOURCE")),
        columns, exact, srcType.map("sourceType" -> _).toMap, plogLevel,
        numeric, hist, bins, range)
    case "check" :: rest =>
      var source: Option[String] = None
      var rules: Option[String] = None
      var srcType: Option[String] = None
      var clogLevel = "error"
      @annotation.tailrec
      def cloop(r: List[String]): Unit = r match {
        case Nil => ()
        case "--rules" :: v :: t => rules = Some(v); cloop(t)
        case "--source-type" :: v :: t => srcType = Some(v); cloop(t)
        case "--log-level" :: v :: t =>
          clogLevel = YamlJob.checkLogLevel(v); cloop(t)
        case flag :: _ if flag.startsWith("--") =>
          throw GraftError.Configuration(
            s"unknown or incomplete check option '$flag'")
        case v :: t if source.isEmpty => source = Some(v); cloop(t)
        case v :: _ =>
          throw GraftError.Configuration(s"unexpected argument '$v'")
      }
      cloop(rest)
      CheckCmd(
        source.getOrElse(throw GraftError.Configuration("check needs a SOURCE")),
        rules.getOrElse(throw GraftError.Configuration("check needs --rules FILE")),
        srcType.map("sourceType" -> _).toMap, clogLevel)
    case "compact" :: rest =>
      var pos = List.empty[String]
      var targetMb = 128
      var clusterBy = Seq.empty[String]
      var rebalance = false
      var srcType: Option[String] = None
      var klogLevel = "error"
      @annotation.tailrec
      def kloop(r: List[String]): Unit = r match {
        case Nil => ()
        case "--target-file-mb" :: v :: t =>
          targetMb = v.toIntOption.filter(_ > 0).getOrElse(
            throw GraftError.Configuration(
              s"--target-file-mb needs a positive integer, got '$v'"))
          kloop(t)
        case "--cluster-by" :: v :: t =>
          clusterBy = v.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          kloop(t)
        case "--rebalance" :: t => rebalance = true; kloop(t)
        case "--source-type" :: v :: t => srcType = Some(v); kloop(t)
        case "--log-level" :: v :: t =>
          klogLevel = YamlJob.checkLogLevel(v); kloop(t)
        case flag :: _ if flag.startsWith("--") =>
          throw GraftError.Configuration(
            s"unknown or incomplete compact option '$flag'")
        case v :: t => pos = pos :+ v; kloop(t)
      }
      kloop(rest)
      pos match {
        case src :: tgt :: Nil =>
          if (clusterBy.nonEmpty && rebalance)
            throw GraftError.Configuration(
              "--cluster-by and --rebalance are mutually exclusive")
          CompactCmd(src, tgt, targetMb, clusterBy, rebalance,
            srcType.map("sourceType" -> _).toMap, klogLevel)
        case _ => throw GraftError.Configuration(
          "compact needs a SOURCE and a TARGET")
      }
    case "manifest" :: rest =>
      var source: Option[String] = None
      var id: Option[String] = None
      var content: Option[String] = None
      var shards = 64
      var seed = 42L
      var srcType: Option[String] = None
      var mlogLevel = "error"
      @annotation.tailrec
      def mloop(r: List[String]): Unit = r match {
        case Nil => ()
        case "--id" :: v :: t => id = Some(v); mloop(t)
        case "--content" :: v :: t => content = Some(v); mloop(t)
        case "--shards" :: v :: t =>
          shards = v.toIntOption.filter(_ >= 1).getOrElse(
            throw GraftError.Configuration(
              s"--shards needs a positive integer, got '$v'")); mloop(t)
        case "--seed" :: v :: t =>
          seed = v.toLongOption.getOrElse(throw GraftError.Configuration(
            s"--seed needs an integer, got '$v'")); mloop(t)
        case "--source-type" :: v :: t => srcType = Some(v); mloop(t)
        case "--log-level" :: v :: t =>
          mlogLevel = YamlJob.checkLogLevel(v); mloop(t)
        case flag :: _ if flag.startsWith("--") =>
          throw GraftError.Configuration(
            s"unknown or incomplete manifest option '$flag'")
        case v :: t if source.isEmpty => source = Some(v); mloop(t)
        case v :: _ =>
          throw GraftError.Configuration(s"unexpected argument '$v'")
      }
      mloop(rest)
      ManifestCmd(
        source.getOrElse(
          throw GraftError.Configuration("manifest needs a SOURCE")),
        id.getOrElse(
          throw GraftError.Configuration("manifest needs --id COL")),
        content.getOrElse(
          throw GraftError.Configuration("manifest needs --content COL")),
        shards, seed, srcType.map("sourceType" -> _).toMap, mlogLevel)
    case "sample" :: rest =>
      var pos = List.empty[String]
      var id: Option[String] = None
      var fraction: Option[Double] = None
      var complement = false
      var k: Option[Int] = None
      var weight: Option[String] = None
      var by = Seq.empty[String]
      var seed = 42L
      var srcType: Option[String] = None
      var slogLevel = "error"
      @annotation.tailrec
      def sloop(r: List[String]): Unit = r match {
        case Nil => ()
        case "--id" :: v :: t => id = Some(v); sloop(t)
        case "--fraction" :: v :: t =>
          fraction = Some(v.toDoubleOption
            .filter(f => f >= 0.0 && f <= 1.0).getOrElse(
              throw GraftError.Configuration(
                s"--fraction needs a number in [0,1], got '$v'"))); sloop(t)
        case "--complement" :: t => complement = true; sloop(t)
        case "--k" :: v :: t =>
          k = Some(v.toIntOption.filter(_ >= 1).getOrElse(
            throw GraftError.Configuration(
              s"--k needs a positive integer, got '$v'"))); sloop(t)
        case "--weight" :: v :: t => weight = Some(v); sloop(t)
        case "--by" :: v :: t =>
          by = v.split(',').map(_.trim).filter(_.nonEmpty).toSeq; sloop(t)
        case "--seed" :: v :: t =>
          seed = v.toLongOption.getOrElse(throw GraftError.Configuration(
            s"--seed needs an integer, got '$v'")); sloop(t)
        case "--source-type" :: v :: t => srcType = Some(v); sloop(t)
        case "--log-level" :: v :: t =>
          slogLevel = YamlJob.checkLogLevel(v); sloop(t)
        case flag :: _ if flag.startsWith("--") =>
          throw GraftError.Configuration(
            s"unknown or incomplete sample option '$flag'")
        case v :: t => pos = pos :+ v; sloop(t)
      }
      sloop(rest)
      val (src, tgt) = pos match {
        case s :: t :: Nil => (s, t)
        case _ => throw GraftError.Configuration(
          "sample needs a SOURCE and a TARGET")
      }
      (fraction, k) match {
        case (Some(_), Some(_)) => throw GraftError.Configuration(
          "--fraction and --k are mutually exclusive")
        case (None, None) => throw GraftError.Configuration(
          "sample needs --fraction F or --k N")
        case (Some(_), None) =>
          if (weight.isDefined || by.nonEmpty) throw GraftError.Configuration(
            "--weight/--by only apply to --k (weighted) sampling")
        case (None, Some(_)) =>
          if (weight.isEmpty) throw GraftError.Configuration(
            "--k needs --weight COL (use --fraction for unweighted)")
          if (complement) throw GraftError.Configuration(
            "--complement only applies to --fraction sampling")
      }
      SampleCmd(src, tgt,
        id.getOrElse(throw GraftError.Configuration("sample needs --id COL")),
        fraction, complement, k, weight, by, seed,
        srcType.map("sourceType" -> _).toMap, slogLevel)
    case "linkage" :: rest =>
      var pos = List.empty[String]
      var block: Option[String] = None
      var score = Seq.empty[(String, String, Double)]
      var threshold: Option[Double] = None
      var maxBlock = 10000
      var srcType: Option[String] = None
      var llogLevel = "error"
      def parseScore(v: String): Seq[(String, String, Double)] =
        v.split(',').map(_.trim).filter(_.nonEmpty).toSeq.map { spec =>
          spec.split(':') match {
            case Array(l, r) => (l, r, 1.0)
            case Array(l, r, w) =>
              (l, r, w.toDoubleOption.filter(_ > 0).getOrElse(
                throw GraftError.Configuration(
                  s"--score weight must be a positive number, got '$w'")))
            case _ => throw GraftError.Configuration(
              s"--score expects LEFTCOL:RIGHTCOL[:WEIGHT], got '$spec'")
          }
        }
      @annotation.tailrec
      def lloop(r: List[String]): Unit = r match {
        case Nil => ()
        case "--block" :: v :: t => block = Some(v); lloop(t)
        case "--score" :: v :: t => score = score ++ parseScore(v); lloop(t)
        case "--threshold" :: v :: t =>
          threshold = Some(v.toDoubleOption
            .filter(x => x >= 0.0 && x <= 1.0).getOrElse(
              throw GraftError.Configuration(
                s"--threshold needs a number in [0,1], got '$v'"))); lloop(t)
        case "--max-block" :: v :: t =>
          maxBlock = v.toIntOption.filter(_ >= 1).getOrElse(
            throw GraftError.Configuration(
              s"--max-block needs a positive integer, got '$v'")); lloop(t)
        case "--source-type" :: v :: t => srcType = Some(v); lloop(t)
        case "--log-level" :: v :: t =>
          llogLevel = YamlJob.checkLogLevel(v); lloop(t)
        case flag :: _ if flag.startsWith("--") =>
          throw GraftError.Configuration(
            s"unknown or incomplete linkage option '$flag'")
        case v :: t => pos = pos :+ v; lloop(t)
      }
      lloop(rest)
      val (lsrc, rsrc, ltgt) = pos match {
        case l :: r :: t :: Nil => (l, r, t)
        case _ => throw GraftError.Configuration(
          "linkage needs LEFT RIGHT TARGET")
      }
      LinkageCmd(lsrc, rsrc, ltgt,
        block.getOrElse(
          throw GraftError.Configuration("linkage needs --block COL")),
        if (score.nonEmpty) score else throw GraftError.Configuration(
          "linkage needs --score LEFTCOL:RIGHTCOL[:WEIGHT][,...]"),
        threshold.getOrElse(
          throw GraftError.Configuration("linkage needs --threshold T")),
        maxBlock, srcType.map("sourceType" -> _).toMap, llogLevel)
    case "dedup" :: rest =>
      var pos = List.empty[String]
      var id: Option[String] = None
      var content = Seq.empty[String]
      var text: Option[String] = None
      var threshold = 0.8
      var srcType: Option[String] = None
      var dlogLevel = "error"
      @annotation.tailrec
      def dloop(r: List[String]): Unit = r match {
        case Nil => ()
        case "--id" :: v :: t => id = Some(v); dloop(t)
        case "--content" :: v :: t =>
          content = v.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          dloop(t)
        case "--text" :: v :: t => text = Some(v); dloop(t)
        case "--threshold" :: v :: t =>
          threshold = v.toDoubleOption
            .filter(x => x > 0.0 && x <= 1.0).getOrElse(
              throw GraftError.Configuration(
                s"--threshold needs a number in (0,1], got '$v'")); dloop(t)
        case "--source-type" :: v :: t => srcType = Some(v); dloop(t)
        case "--log-level" :: v :: t =>
          dlogLevel = YamlJob.checkLogLevel(v); dloop(t)
        case flag :: _ if flag.startsWith("--") =>
          throw GraftError.Configuration(
            s"unknown or incomplete dedup option '$flag'")
        case v :: t => pos = pos :+ v; dloop(t)
      }
      dloop(rest)
      val (dsrc, dtgt) = pos match {
        case s :: t :: Nil => (s, t)
        case _ => throw GraftError.Configuration("dedup needs SOURCE TARGET")
      }
      if (content.nonEmpty && text.nonEmpty)
        throw GraftError.Configuration(
          "dedup takes --content (exact) OR --text (near-dup), not both")
      if (content.isEmpty && text.isEmpty)
        throw GraftError.Configuration(
          "dedup needs --content c1[,c2,...] (exact) or --text COL (near-dup)")
      DedupCmd(dsrc, dtgt,
        id.getOrElse(throw GraftError.Configuration("dedup needs --id COL")),
        content, text, threshold,
        srcType.map("sourceType" -> _).toMap, dlogLevel)
    case "drift" :: rest =>
      var pos = List.empty[String]
      var column: Option[String] = None
      var bins = 10
      var categorical = false
      var srcType: Option[String] = None
      var drlogLevel = "error"
      @annotation.tailrec
      def drloop(r: List[String]): Unit = r match {
        case Nil => ()
        case "--column" :: v :: t => column = Some(v); drloop(t)
        case "--bins" :: v :: t =>
          bins = v.toIntOption.filter(x => x >= 2 && x <= 1000).getOrElse(
            throw GraftError.Configuration(
              s"--bins needs an integer in [2,1000], got '$v'")); drloop(t)
        case "--categorical" :: t => categorical = true; drloop(t)
        case "--source-type" :: v :: t => srcType = Some(v); drloop(t)
        case "--log-level" :: v :: t =>
          drlogLevel = YamlJob.checkLogLevel(v); drloop(t)
        case flag :: _ if flag.startsWith("--") =>
          throw GraftError.Configuration(
            s"unknown or incomplete drift option '$flag'")
        case v :: t => pos = pos :+ v; drloop(t)
      }
      drloop(rest)
      val (dbase, dcur) = pos match {
        case b :: c :: Nil => (b, c)
        case _ => throw GraftError.Configuration("drift needs BASE CURRENT")
      }
      DriftCmd(dbase, dcur,
        column.getOrElse(
          throw GraftError.Configuration("drift needs --column COL")),
        bins, categorical, srcType.map("sourceType" -> _).toMap, drlogLevel)
    case "strip-exif" :: rest =>
      var pos = List.empty[String]
      var flagsOut: Option[String] = None
      var srcType: Option[String] = None
      var selogLevel = "error"
      @annotation.tailrec
      def seloop(r: List[String]): Unit = r match {
        case Nil => ()
        case "--flags" :: v :: t => flagsOut = Some(v); seloop(t)
        case "--source-type" :: v :: t => srcType = Some(v); seloop(t)
        case "--log-level" :: v :: t =>
          selogLevel = YamlJob.checkLogLevel(v); seloop(t)
        case flag :: _ if flag.startsWith("--") =>
          throw GraftError.Configuration(
            s"unknown or incomplete strip-exif option '$flag'")
        case v :: t => pos = pos :+ v; seloop(t)
      }
      seloop(rest)
      val (sesrc, setgt) = pos match {
        case s :: t :: Nil => (s, t)
        case _ => throw GraftError.Configuration(
          "strip-exif needs SOURCE TARGET")
      }
      StripExifCmd(sesrc, setgt, flagsOut,
        srcType.map("sourceType" -> _).toMap, selogLevel)
    case "cdx-host" :: rest =>
      var pos = List.empty[String]
      var out: Option[String] = None
      var chLogLevel = "error"
      @annotation.tailrec
      def chloop(r: List[String]): Unit = r match {
        case Nil => ()
        case "--out" :: v :: t => out = Some(v); chloop(t)
        case "--log-level" :: v :: t =>
          chLogLevel = YamlJob.checkLogLevel(v); chloop(t)
        case flag :: _ if flag.startsWith("--") =>
          throw GraftError.Configuration(
            s"unknown or incomplete cdx-host option '$flag'")
        case v :: t => pos = pos :+ v; chloop(t)
      }
      chloop(rest)
      // several day archives compose (sidecar-list union): every
      // positional but the last is an archive, the last is the host
      val (archives, host) = pos match {
        case ps if ps.size >= 2 => (ps.init, ps.last)
        case _ => throw GraftError.Configuration(
          "cdx-host needs ARCHIVE... HOST")
      }
      CdxHostCmd(archives, host, out, chLogLevel)
    case "topk" :: rest =>
      var source: Option[String] = None
      var groups = Seq.empty[String]
      var key: Option[String] = None
      var id: Option[String] = None
      var k = 5
      var asc = false
      var srcType: Option[String] = None
      var tlogLevel = "error"
      @annotation.tailrec
      def tloop(r: List[String]): Unit = r match {
        case Nil => ()
        case "--group" :: v :: t =>
          groups = v.split(',').map(_.trim).filter(_.nonEmpty).toSeq; tloop(t)
        case "--key" :: v :: t => key = Some(v); tloop(t)
        case "--id" :: v :: t => id = Some(v); tloop(t)
        case "-k" :: v :: t =>
          k = v.toIntOption.getOrElse(throw GraftError.Configuration(
            s"-k needs an integer, got '$v'")); tloop(t)
        case "--asc" :: t => asc = true; tloop(t)
        case "--source-type" :: v :: t => srcType = Some(v); tloop(t)
        case "--log-level" :: v :: t =>
          tlogLevel = YamlJob.checkLogLevel(v); tloop(t)
        case flag :: _ if flag.startsWith("--") =>
          throw GraftError.Configuration(
            s"unknown or incomplete topk option '$flag'")
        case v :: t if source.isEmpty => source = Some(v); tloop(t)
        case v :: _ =>
          throw GraftError.Configuration(s"unexpected argument '$v'")
      }
      tloop(rest)
      def need(o: Option[String], what: String) = o.getOrElse(
        throw GraftError.Configuration(s"topk needs $what"))
      if (groups.isEmpty)
        throw GraftError.Configuration("topk needs --group columns")
      TopKCmd(need(source, "a SOURCE"), groups, need(key, "--key"),
        need(id, "--id"), k, asc,
        srcType.map("sourceType" -> _).toMap, tlogLevel)
    case rest =>
      val (cfg, preview, dryRun, logLevel) = parseTransferArgs(rest)
      Transfer(cfg, preview, dryRun, logLevel)
  }

  private def parseTransferArgs(
      args: List[String]): (JobConfig, Option[Int], Boolean, String) = {
    var positional = Vector.empty[String]
    var transform: Option[String] = None
    var transformFile: Option[String] = None
    var schemaFile: Option[String] = None
    var preview: Option[Int] = None
    var dryRun = false
    var truncate = false
    var skipExisting = false
    var batchSize: Option[Int] = None
    var sourceType: Option[String] = None
    var sourceSecret: Option[String] = None
    var destSecret: Option[String] = None
    var decimalMode = "double"
    var quarantine: Option[String] = None
    var logLevel = "info"

    def intVal(flag: String, v: String): Int =
      try v.toInt catch {
        case _: NumberFormatException =>
          throw GraftError.Configuration(s"$flag expects an integer, got '$v'")
      }

    @annotation.tailrec
    def loop(rest: List[String]): Unit = rest match {
      case Nil => ()
      case "--transform" :: v :: t        => transform = Some(v); loop(t)
      case "--transform-file" :: v :: t   => transformFile = Some(v); loop(t)
      case "--schema-file" :: v :: t      => schemaFile = Some(v); loop(t)
      case "--preview" :: v :: t          => preview = Some(intVal("--preview", v)); loop(t)
      case "--dry-run" :: t               => dryRun = true; loop(t)
      case "--truncate" :: t              => truncate = true; loop(t)
      case "--skip-existing" :: t         => skipExisting = true; loop(t)
      case "--batch-size" :: v :: t       => batchSize = Some(intVal("--batch-size", v)); loop(t)
      case "--source-type" :: v :: t      => sourceType = Some(v); loop(t)
      case "--source-secret-id" :: v :: t => sourceSecret = Some(v); loop(t)
      case "--dest-secret-id" :: v :: t   => destSecret = Some(v); loop(t)
      case "--infer-schema" :: v :: t if v == "true" || v == "false" =>
        // sampled inference is always on for untyped sources; parsed for
        // CLI parity (cli.rs:22-24) — with or without an explicit bool
        loop(t)
      case "--infer-schema" :: t          => loop(t)
      case "--decimal-mode" :: v :: t     => decimalMode = v; loop(t)
      case "--quarantine" :: v :: t       => quarantine = Some(v); loop(t)
      case "--log-level" :: v :: t        =>
        logLevel = YamlJob.checkLogLevel(v); loop(t)
      case flag :: _ if flag.startsWith("--") =>
        throw GraftError.Configuration(s"unknown or incomplete option '$flag'")
      case v :: t => positional :+= v; loop(t)
    }
    loop(args)

    if (positional.size > 2)
      // a stray flag value most likely (e.g. `--infer-schema yes`)
      throw GraftError.Configuration(
        s"unexpected argument(s): ${positional.drop(2).mkString(", ")}\n\n" +
          "Usage: graft <SOURCE> <TARGET> [OPTIONS]\n" +
          "For more information, try '--help'")
    if (positional.size < 2)
      throw GraftError.Configuration(
        "SOURCE and TARGET are required.\n\n" +
          "Usage: graft <SOURCE> <TARGET> [OPTIONS]\n" +
          "   or: graft <COMMAND>\n\nFor more information, try '--help'")

    if (transformFile.isDefined && transform.isDefined)
      System.err.println(
        "Warning: Both --transform-file and --transform specified. Using --transform-file.")

    // JDBC read/write chunking + the file-sink analog (rows per file) —
    // shared with the YAML batch_size wiring
    val batchOpts = batchSize.map(n => YamlJob.batchOptions(n.toString))
      .getOrElse(Map.empty)
    val srcOpts = batchOpts ++ sourceType.map("sourceType" -> _).toMap

    // plaintext-password warnings BEFORE injection, secret overrides
    // announced during it (secrets.rs:51-72; examples/12 asserts both)
    Secrets.warnPasswordInUrl(positional(0), "source")
    Secrets.warnPasswordInUrl(positional(1), "destination")
    val cfg = JobConfig(
      source = Secrets.inject(positional(0), sourceSecret,
        warnOverrideFor = Some("source")),
      target = Secrets.inject(positional(1), destSecret,
        warnOverrideFor = Some("destination")),
      sourceOptions = srcOpts,
      targetOptions = batchOpts,
      transform = TransformSpec(
        inline = if (transformFile.isDefined) None else transform,
        file = transformFile),
      schemaFile = schemaFile,
      truncate = truncate,
      skipExisting = skipExisting,
      decimalMode = decimalMode,
      quarantine = quarantine)
    (cfg, preview, dryRun, logLevel)
  }

  // ------------------------------ actions ------------------------------

  private def session(logLevel: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel.toUpperCase)
    s
  }

  /** Progress line on stderr at `--log-level info`; the message is
    * by-name, so a costly one (a plan's column count) is never built at
    * quieter levels. */
  private def info(logLevel: String, msg: => String): Unit =
    if (logLevel == "info") System.err.println(msg)

  /** Runs a transfer/preview/dry-run; returns the process exit code. */
  def runTransfer(cfg: JobConfig, preview: Option[Int], dryRun: Boolean,
                  logLevel: String): Int = {
    // reuse a live session (tests, notebooks); only stop what we created
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = session(logLevel)
    try {
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
    } finally if (!preExisting) spark.stop()
  }

  /** Train the `lang_id:` stage's classifier from its seed source —
    * the (model, classStats, allow) triple Curation.PipelineConfig
    * takes. Shared by batch and stream curation (training is always
    * a batch pass over the static seed). */
  private def trainLangId(spark: SparkSession, spec: YamlJob.LangIdSpec)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         Seq[String]) = {
    val seed = graft.sources.Connectors.read(spark, spec.seedUri, Map.empty)
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
    def read(uri: String) = graft.sources.Connectors.read(spark, uri, Map.empty)
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
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{count, lit}
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = session(logLevel)
    try {
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
          val obs = Observation()
          val tapped = curated.observe(obs, count(lit(1)).as("rows"))
          val direct = cur.shards match {
            case Some(s) =>
              Shuffling.writeShards(tapped, cur.idColumn, cfg.target,
                s.seed, s.count)
              None
            case None =>
              // a `.tar(.gz)` curation target writes WebDataset shards:
              // the curated document frame maps to samples by the job's
              // own id/text columns (extra columns ride in <key>.json) —
              // the crawl-in → training-shards-out composition
              val ref = graft.sources.Connectors.parse(
                cfg.target, cfg.targetOptions)
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
                Some(graft.sources.TarSource.writeDocuments(
                  tapped, ref.path, cur.idColumn, cur.textColumn,
                  gzip = ref.path.endsWith(".gz")))
              } else
                graft.sources.Connectors.write(
                  tapped, cfg.target, cfg.truncate, cfg.targetOptions)
          }
          val rows = direct.getOrElse(obs.get("rows").asInstanceOf[Long])
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
    } finally if (!preExisting) spark.stop()
  }

  /** Runs a YAML job with `curation: mode: stream` — the continuous-
    * ingest shape: [[graft.sources.Connectors.readStream]] supplies the
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
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = session(logLevel)
    try {
      info(logLevel, s"→ Source (stream): ${cfg.source}")
      info(logLevel, s"→ Target: ${cfg.target}")
      val src = graft.sources.Connectors.readStream(
        spark, cfg.source, cfg.sourceOptions)
      val input = new TransferEngine(cfg).planOver(spark, src)
      val pc = pipelineConfig(spark, cur)
      val curated = Curation.pipelineStream(
        input, cur.idColumn, cur.textColumn, tsCol, cur.dedupHorizon, pc)
      // an extension-less target is a parquet directory — the same
      // default layout the batch curation shard writer produces
      val ref =
        try graft.sources.Connectors.parse(cfg.target, cfg.targetOptions)
        catch {
          case _: graft.sources.Connectors.UnsupportedUri =>
            graft.sources.Connectors.Ref("parquet", cfg.target)
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
    } finally if (!preExisting) spark.stop()
  }

  /** `graft profile SOURCE`: read through the connector factory, run
    * the one-pass [[graft.operators.TableProfile]] summary, render it
    * in the reference's data-table box. HLL distinct counts by default
    * (safe on any size); `--exact` opts into the Expand-based exact
    * counts for small tables. `--numeric` switches to the
    * mean/stddev/quartile distribution report (over `--columns` or
    * every numeric column); `--histogram COL [--bins N] [--range
    * LO:HI]` prints an equi-width bin table. */
  def runProfile(p: Profile): Int = {
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = session(p.logLevel)
    try {
      val df = graft.sources.Connectors.read(spark, p.source, p.sourceOptions)
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
    } finally if (!preExisting) spark.stop()
  }

  /** `graft check SOURCE --rules rules.yaml`: the data-quality CI gate —
    * run the YAML-declared [[graft.operators.QualityChecks]] suite over
    * any readable source, print the verdict table, exit 1 if any check
    * failed (so a pipeline can gate a publish step on it). Foreign-key
    * `ref:` URIs resolve through the same connector factory as the
    * source. */
  def runCheck(c: CheckCmd): Int = {
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = session(c.logLevel)
    try {
      val df = graft.sources.Connectors.read(spark, c.source, c.sourceOptions)
      val yaml = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(c.rulesFile)), "UTF-8")
      val checks = graft.operators.QualityChecks.fromYaml(yaml,
        ref => graft.sources.Connectors.read(spark, ref, Map.empty))
      val out = graft.operators.QualityChecks.run(df, checks)
      val rows = out.collect()
      println(s"\nQuality checks: ${c.source} (${checks.size} checks)")
      println(graft.engine.PreviewFormat.dataTable(out.columns.toSeq, rows))
      val failed = rows.count(r => !r.getBoolean(r.fieldIndex("passed")))
      if (failed == 0) { println("All checks passed"); 0 }
      else { println(s"$failed check(s) FAILED"); 1 }
    } finally if (!preExisting) spark.stop()
  }

  /** `graft compact SOURCE TARGET`: small-file rewrite. Sizes the
    * output from the input directory's ACTUAL bytes (driver-side
    * listing, no data scan); `--cluster-by` upgrades the rewrite to a
    * range+sort layout pass so future scans get min/max data skipping
    * on those keys. Prints before/after file stats. */
  def runCompact(c: CompactCmd): Int = {
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = session(c.logLevel)
    try {
      // compaction's normal inputs/outputs are extension-less parquet
      // DIRECTORIES; default the format instead of failing dispatch
      // (an explicit extension or --source-type still wins)
      val opts =
        if (c.sourceOptions.contains("sourceType")) c.sourceOptions
        else c.sourceOptions + ("sourceType" -> "parquet")
      val before = graft.operators.Compaction.dirStats(spark, c.source)
      val df = graft.sources.Connectors.read(spark, c.source, opts)
      val n = graft.operators.Compaction.targetPartitions(
        before.bytes, c.targetFileMb.toLong << 20)
      val out = graft.operators.Compaction.compact(
        df, n, c.clusterBy, c.rebalance)
      // mirror the source-side default: parquet only when the target
      // has no recognizable extension — `graft compact in out.csv`
      // must write CSV, not parquet files into a path named out.csv
      val tgtOpts =
        if (scala.util.Try(graft.sources.Connectors
              .parse(c.target, Map.empty)).isSuccess) Map.empty[String, String]
        else Map("sourceType" -> "parquet")
      graft.sources.Connectors.write(out, c.target, truncate = true,
        options = tgtOpts)
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
    } finally if (!preExisting) spark.stop()
  }

  /** `graft manifest SOURCE --id COL --content COL`: print the
    * per-shard reproducibility manifest ([[graft.llm.Shuffling
    * .shardManifest]]) — the artifact a training run records next to
    * its shards so a resume or audit can prove it reads the same
    * corpus in the same partitioning. */
  def runManifest(m: ManifestCmd): Int = {
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = session(m.logLevel)
    try {
      val df = graft.sources.Connectors.read(spark, m.source, m.sourceOptions)
      val out = graft.llm.Shuffling.shardManifest(
        df, m.id, m.content, m.seed, m.shards).orderBy("shard")
      println(s"\nShard manifest: ${m.source} " +
        s"(${m.shards} shards, seed ${m.seed})")
      println(graft.engine.PreviewFormat.dataTable(out.columns.toSeq,
        out.collect()))
      0
    } finally if (!preExisting) spark.stop()
  }

  /** `graft sample SOURCE TARGET`: deterministic sampling as a CLI
    * step — `--fraction` routes to the hash-threshold sampler (same
    * id ⇒ same decision forever; `--complement` gives the held-out
    * rest), `--k --weight` to the exact-k Efraimidis-Spirakis pick
    * (optionally per `--by` group). */
  def runSample(sc: SampleCmd): Int = {
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = session(sc.logLevel)
    try {
      val df = graft.sources.Connectors.read(spark, sc.source, sc.sourceOptions)
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
      graft.sources.Connectors.write(out, sc.target, truncate = true)
      val n = graft.sources.Connectors
        .read(spark, sc.target, Map.empty).count()
      println(s"\nSampled ${sc.source} -> ${sc.target} ($what, " +
        s"seed ${sc.seed}): $n rows")
      0
    } finally if (!preExisting) spark.stop()
  }

  /** `graft linkage`: blocked fuzzy-match join (entity resolution) from
    * the CLI — LEFT and RIGHT read from any source, candidates blocked
    * on `--block`, scored by weighted Jaro-Winkler over `--score`
    * column pairs, matches >= `--threshold` written to TARGET. */
  def runLinkage(lc: LinkageCmd): Int = {
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = session(lc.logLevel)
    try {
      val left = graft.sources.Connectors.read(spark, lc.left, lc.sourceOptions)
      val right = graft.sources.Connectors.read(spark, lc.right, lc.sourceOptions)
      val out = graft.operators.RecordLinkage.fuzzyJoin(
        left, right, lc.block, lc.score, lc.threshold, lc.maxBlock)
      graft.sources.Connectors.write(out, lc.target, truncate = true)
      val n = graft.sources.Connectors
        .read(spark, lc.target, Map.empty).count()
      val fields = lc.score.map { case (l, r, w) => s"$l~$r(w=$w)" }
      println(s"\nLinked ${lc.left} >< ${lc.right} -> ${lc.target} " +
        s"(block ${lc.block}, ${fields.mkString(", ")}, " +
        s"threshold ${lc.threshold}): $n matched pairs")
      0
    } finally if (!preExisting) spark.stop()
  }

  /** `graft dedup`: exact (--content) or minhash near-dup (--text)
    * deduplication of any readable source — survivors are the
    * canonical (minimum-id) row of each duplicate group/component,
    * written with their FULL original columns (the component frame is
    * keys-only; full rows come back via one semi-join on the id). */
  def runDedup(dc: DedupCmd): Int = {
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = session(dc.logLevel)
    try {
      import org.apache.spark.sql.functions.col
      val df = graft.sources.Connectors.read(spark, dc.source, dc.sourceOptions)
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
      graft.sources.Connectors.write(out, dc.target, truncate = true)
      val total = df.count()
      val kept = graft.sources.Connectors
        .read(spark, dc.target, Map.empty).count()
      val mode = dc.text match {
        case Some(t) => s"near-dup on $t (threshold ${dc.threshold})"
        case None => s"exact on ${dc.content.mkString(", ")}"
      }
      println(s"\nDeduplicated ${dc.source} -> ${dc.target} ($mode): " +
        s"$total rows in, $kept kept, ${total - kept} duplicates dropped")
      0
    } finally if (!preExisting) spark.stop()
  }

  /** `graft drift`: PSI population-stability gate between two readable
    * snapshots — print the per-bin detail + summary, exit 1 when the
    * index reaches the conventional action level (≥ 0.25), so a
    * pipeline can gate retraining/publishes on feature drift exactly
    * like `graft check` gates data quality. */
  def runDrift(dr: DriftCmd): Int = {
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = session(dr.logLevel)
    try {
      val base = graft.sources.Connectors.read(spark, dr.base, dr.sourceOptions)
      val cur = graft.sources.Connectors.read(spark, dr.current, dr.sourceOptions)
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
    } finally if (!preExisting) spark.stop()
  }

  /** `graft strip-exif`: PII hygiene over a media table — rewrite image
    * rows' JPEG payloads with every APP1 (EXIF/XMP) and APP2 (ICC)
    * segment removed byte-exactly (pixels untouched, non-JPEG and
    * unparseable payloads pass through), write the result to TARGET,
    * and optionally write the per-image flag report (`--flags`:
    * media_id, parsed, has_exif, has_gps, has_serial, exif_tags) so a
    * pipeline can count or quarantine geo-tagged images. */
  def runStripExif(se: StripExifCmd): Int = {
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = session(se.logLevel)
    try {
      val df = graft.sources.Connectors.read(spark, se.source, se.sourceOptions)
      Seq("media_id", "media_type", "payload").foreach { c =>
        if (!df.columns.contains(c))
          throw GraftError.Configuration(
            s"strip-exif needs a media table with a '$c' column " +
              s"(found: ${df.columns.mkString(", ")})")
      }
      val out = graft.llm.Exif.stripExif(df)
      graft.sources.Connectors.write(out, se.target, truncate = true)
      val written = graft.sources.Connectors.read(spark, se.target, Map.empty)
      val n = written.count()
      val changed = written.filter(org.apache.spark.sql.functions
        .col("stripped")).count()
      se.flagsOut.foreach { path =>
        graft.sources.Connectors.write(
          graft.llm.Exif.exifFlags(df), path, truncate = true)
      }
      println(s"\nStripped ${se.source} -> ${se.target}: $n rows, " +
        s"$changed payloads rewritten" +
        se.flagsOut.map(p => s"; flags -> $p").getOrElse(""))
      0
    } finally if (!preExisting) spark.stop()
  }

  /** `graft cdx-host`: the SURT-adjacency host lookup as a CLI verb —
    * bounds-pruned CDX range scan + ranged point fetches over a
    * `WarcSource.write(cdxIndex = true)` archive (never a shard scan).
    * With `--out` the fetched records land as the readText text shape
    * (target_uri, warc_date, http_status, text) at TARGET through the
    * connector factory; without it a summary table prints (first 20 by
    * URI, 40-char text heads) plus the record count. */
  def runCdxHost(ch: CdxHostCmd): Int = {
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = session(ch.logLevel)
    try {
      import org.apache.spark.sql.functions._
      val recs = graft.sources.CdxIndex.lookupHost(spark, ch.archives, ch.host)
      val text = recs.select(
        col("target_uri"), col("warc_date"), col("http_status"),
        graft.sources.WarcSource.textCol.as("text"))
      ch.out match {
        case Some(t) =>
          graft.sources.Connectors.write(text, t, truncate = true)
          val n = graft.sources.Connectors.read(spark, t, Map.empty).count()
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
    } finally if (!preExisting) spark.stop()
  }

  /** `graft topk`: grouped top-k over any readable source, printed in
    * the reference's preview box layout. */
  def runTopK(tk: TopKCmd): Int = {
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = session(tk.logLevel)
    try {
      val df = graft.sources.Connectors.read(spark, tk.source, tk.sourceOptions)
      println(s"\nTop ${tk.k} per (${tk.groups.mkString(", ")}) by " +
        s"${tk.key} ${if (tk.asc) "ascending" else "descending"}: ${tk.source}")
      val out = graft.operators.GroupTopK.topK(df, tk.groups, tk.key, tk.id,
          tk.k, desc = !tk.asc)
        .orderBy((tk.groups.map(org.apache.spark.sql.functions.col) :+
          org.apache.spark.sql.functions.col("rank")): _*)
      println(graft.engine.PreviewFormat.dataTable(out.columns.toSeq,
        out.collect()))
      0
    } finally if (!preExisting) spark.stop()
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
