package graft.core

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.xbean.asm9.{ClassReader, ClassWriter, Opcodes}
import org.apache.xbean.asm9.commons.{ClassRemapper, Remapper}
import org.scalatest.funsuite.AnyFunSuite

/** Which compiled classes the CLI and the driver contract reach.
  *
  * Reads every `.class` file in the main output directory (Scala, Java
  * and the `org.apache.spark.sql` bridge), collects every class each
  * one names — constant pool, descriptors, signatures, invokedynamic
  * handles — and groups nested and companion classes (`Foo$`,
  * `Foo$anon$1`) under their top-level name. The walk starts at
  * `graft.Main` and `graft.Verify`. It reaches `graft.SparkEntry` but
  * does not follow it: that is the query catalog Verify drives, so a
  * class that only a query calls counts as unreached.
  *
  * The unreached set must equal `allowlist`. The test fails when an
  * allowlisted class is gone but its entry stays, when one becomes
  * reached, and when a new class is added that nothing reaches. */
class ReachSpec extends AnyFunSuite {
  // The walk is complete only while nothing in src/main loads a class by
  // name (no Class.forName, ServiceLoader or META-INF/services; YAML keys
  // select stages through ordinary calls).
  private val roots = Seq("graft.Main", "graft.Verify")
  private val notFollowed = Set("graft.SparkEntry")

  // Reached by no verb or job, only by SparkEntry queries and tests.
  private val allowlist: Set[String] = Set(
    "graft.functions.BpeExprs",
    "graft.functions.CodeExprs",
    "graft.functions.FreqSketch",
    "graft.functions.UnigramExprs",
    "graft.functions.WordPieceExprs",
    "graft.llm.Bm25",
    "graft.llm.Boilerplate",
    "graft.llm.BpeTrain",
    "graft.llm.Chat",
    "graft.llm.Chunking",
    "graft.llm.Code",
    "graft.llm.CosineJoin",
    "graft.llm.EditSim",
    "graft.llm.FeatureHash",
    "graft.llm.FeatureSelect",
    "graft.llm.Fusion",
    "graft.llm.ImageText",
    "graft.llm.Indexing",
    "graft.llm.LmScore",
    "graft.llm.Mixing",
    "graft.llm.Multimodal",
    "graft.llm.NegativeSampling",
    "graft.llm.Normalize",
    "graft.llm.Packing",
    "graft.llm.RankEval",
    "graft.llm.TfIdf",
    "graft.llm.UnigramLm",
    "graft.llm.WordPieceTrain",
    "graft.operators.AbTest",
    "graft.operators.Abc",
    "graft.operators.Allocation",
    "graft.operators.Cooccurrence",
    "graft.operators.Correlations",
    "graft.operators.CrossTab",
    "graft.operators.DistinctSketch",
    "graft.operators.Ewma",
    "graft.operators.FreqSketch",
    "graft.operators.Gains",
    "graft.operators.JsonFlatten",
    "graft.operators.KeyCollision",
    "graft.operators.Labels",
    "graft.operators.PairEval",
    "graft.operators.Privacy",
    "graft.operators.Recognition",
    "graft.operators.Regression",
    "graft.operators.RobustStats",
    "graft.operators.Skew",
    "graft.operators.SkewProfile",
    "graft.operators.Skyline",
    "graft.operators.Survival",
    "graft.operators.TargetEncode",
    "graft.operators.Trend",
    "graft.operators.ZOrder",
    "graft.streaming.EventsStreaming",
  )

  private def topLevel(internalName: String): String = {
    val simple = internalName.lastIndexOf('/') + 1
    val nested = internalName.indexOf('$', simple)
    val top = if (nested < 0) internalName else internalName.take(nested)
    top.replace('/', '.')
  }

  /** Top-level class in the output directory → the classes it names. */
  private lazy val named: Map[String, Set[String]] = {
    val dir = Paths.get(
      graft.Main.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val files = Using.resource(Files.walk(dir))(
      _.iterator().asScala.filter(_.toString.endsWith(".class")).toList)
    val out = mutable.Map.empty[String, Set[String]]
    files.foreach { f =>
      val reader = new ClassReader(Files.readAllBytes(f))
      val seen = mutable.Set.empty[String]
      val recorder = new Remapper(Opcodes.ASM9) {
        override def map(internalName: String): String = {
          seen += topLevel(internalName)
          internalName
        }
      }
      // A writer as the delegate: the remapper visits a method body only
      // when its delegate returns a visitor for it.
      reader.accept(new ClassRemapper(new ClassWriter(0), recorder), 0)
      val self = topLevel(reader.getClassName)
      out(self) = out.getOrElse(self, Set.empty[String]) ++ seen
    }
    out.toMap
  }

  private def reached: Set[String] = {
    val seen = mutable.Set.empty[String]
    val todo = mutable.Stack.from(roots)
    while (todo.nonEmpty) {
      val c = todo.pop()
      if (named.contains(c) && seen.add(c) && !notFollowed(c))
        todo.pushAll(named(c))
    }
    seen.toSet
  }

  test("the classes graft.Main and graft.Verify leave unreached are the allowlist") {
    val unreached = named.keySet -- reached
    val fresh = (unreached -- allowlist).toSeq.sorted
    val (gone, nowReached) =
      (allowlist -- unreached).toSeq.sorted.partition(c => !named.contains(c))
    val problems = Seq(
      "unreached but not allowlisted" -> fresh,
      "allowlisted but gone" -> gone,
      "allowlisted but reached" -> nowReached,
    ).collect { case (what, cs) if cs.nonEmpty => s"$what: ${cs.mkString(", ")}" }
    if (problems.nonEmpty) fail(problems.mkString("\n"))
  }
}
