package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Leak/copy hygiene as a spec gate — the same pattern classes the
 * per-round driver checks (internal imports, non-public URLs, cloud
 * bucket references, credential shapes, reference copyright headers)
 * enforced INSIDE `sbt test`, so a regression fails the build between
 * driver rounds instead of surfacing a round later.
 *
 * Everything this library builds on is public (Spark, the JDK, the
 * Scala stdlib, the test frameworks, jackson via Spark's classpath);
 * any other import root means a dependency that cannot exist in this
 * zero-egress build. URLs are allowlisted by host: reference-parity
 * doc links and obviously-fictional fixture hosts only. Object-store
 * schemes are forbidden outright — every IO path in this repo is
 * local parquet / cache tables, so an `s3://`-style reference can only
 * be a leak. Credential-shaped literals (cloud key ids, tokens, PEM
 * blocks) must never appear in source, fixtures included: fixtures
 * that need a secret use clearly fake `secret_reference::` tokens.
 *
 * The gate's matcher is factored (`violations`) and self-tested with
 * runtime-constructed bad strings, so the gate itself is pinned to
 * actually catch each class. The scan skips THIS file only (its
 * pattern definitions would self-match).
 *
 * A second source gate keeps every `src/main` Catalyst expression on
 * real codegen: no expression mixes in `CodegenFallback` (which runs
 * the kernel interpreted and splits the whole-stage span), and nothing
 * imports it. Comments are stripped first, so prose about the trait
 * stays legal.
 */
class HygieneGateSpec extends AnyFunSuite {

  private val allowedImportRoots = Set(
    "graft", "java", "javax", "scala",
    "org.apache", "org.scalatest", "org.scalacheck",
    "com.fasterxml") // jackson: ships on Spark's public classpath

  /** Public doc/registry hosts cited for reference parity + fictional
    * fixture hosts used in tests. Anything else is a leak. */
  private val allowedUrlHosts = Set(
    "docs.airbyte.com", "cloud.airbyte.com", "connectors.airbyte.com",
    "api.airbyte.com", "github.com", "raw.githubusercontent.com",
    "hub.docker.com", "json-schema.org", "api.x.com",
    "example.com", "api.example.com", "docs.example", "faker.example",
    "localhost", "github") // bare "github" = a string split across lines

  private val importLine = """(?m)^\s*import\s+([A-Za-z0-9_.]+)""".r
  private val urlHost = """https?://([A-Za-z0-9._-]+)""".r
  private val bucketScheme = """(?i)\b(s3a?|gs|wasbs?|abfss?)://""".r
  private val internalHost =
    """(?i)(\.corp\.|\.intranet\.|metadata\.google\.internal|169\.254\.169\.254)""".r
  private val credentialShapes = Seq(
    "aws_key_id" -> """\bAKIA[0-9A-Z]{16}\b""".r,
    "github_token" -> """\bgh[pousr]_[A-Za-z0-9]{20,}""".r,
    "slack_token" -> """\bxox[baprs]-[A-Za-z0-9-]{10,}""".r,
    "google_api_key" -> """\bAIza[0-9A-Za-z_-]{35}""".r,
    "private_key_pem" -> """-----BEGIN [A-Z ]*PRIVATE KEY-----""".r,
    "jwt_literal" -> """\beyJhbGciOi[A-Za-z0-9_-]{8,}""".r)
  private val copyMarker = """(?i)copyright\s+(\(c\)\s+)?[0-9]{0,4}\s*airbyte""".r

  /** All hygiene violations in one file's text, tagged by class. */
  private[graft] def violations(text: String): Seq[String] = {
    // reverse-domain package roots only: local-value imports
    // (`import spark.implicits._`) start with a val name, not a TLD
    val packageTlds = Set("com", "net", "io", "dev", "ai", "co", "org",
      "internal", "corp", "cloud")
    val imports = importLine.findAllMatchIn(text).map(_.group(1)).flatMap { imp =>
      val tld = imp.takeWhile(_ != '.')
      val ok = !packageTlds.contains(tld) || allowedImportRoots.exists(r =>
        imp == r || imp.startsWith(r + "."))
      if (ok) None else Some(s"import_root:$imp")
    }.toSeq
    val urls = urlHost.findAllMatchIn(text).map(_.group(1)).flatMap { host =>
      if (allowedUrlHosts.contains(host)) None else Some(s"url_host:$host")
    }.toSeq
    val buckets = bucketScheme.findFirstIn(text).map(s => s"bucket_scheme:$s").toSeq
    val internals = internalHost.findFirstIn(text).map(s => s"internal_host:$s").toSeq
    val creds = credentialShapes.flatMap { case (tag, re) =>
      re.findFirstIn(text).map(_ => s"credential:$tag")
    }
    val copies = copyMarker.findFirstIn(text).map(_ => "reference_copyright").toSeq
    imports ++ urls ++ buckets ++ internals ++ creds ++ copies
  }

  private val fallbackMixin =
    """\b(extends|with)\s+([A-Za-z0-9_]+\.)*CodegenFallback\b""".r
  private val fallbackImport = """(?m)^\s*import\s+[^\n]*\bCodegenFallback\b""".r
  private val comments = """(?s)/\*.*?\*/|//[^\n]*""".r

  /** `CodegenFallback` mix-ins and imports in one file's code. */
  private[graft] def codegenFallbackUses(text: String): Seq[String] = {
    val code = comments.replaceAllIn(text, " ")
    (fallbackMixin.findAllIn(code) ++ fallbackImport.findAllIn(code))
      .map(_.trim).toSeq
  }

  private def scalaSources: Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val p = java.nio.file.Paths.get(root)
      assert(java.nio.file.Files.isDirectory(p), s"run from repo root: $p")
      java.nio.file.Files.walk(p).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "HygieneGateSpec.scala")
        .toSeq
    }
  }

  test("grep gate: src/ is free of leak/copy pattern classes") {
    val offenders = scalaSources.flatMap { p =>
      val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      violations(text).map(v => s"$p -> $v")
    }
    assert(offenders.isEmpty,
      s"hygiene violations:\n  ${offenders.mkString("\n  ")}")
  }

  test("the matcher catches a seeded fixture of every class") {
    // built at runtime so the strings never appear verbatim in source
    val sep = "://"
    val fixtures = Map(
      "import_root" -> "import com.acme.internal.Engine",
      "url_host" -> ("https" + sep + "ci.acme-internal.net/build/123"),
      "bucket_scheme" -> ("s3" + sep + "training-corpus/shard-0000"),
      "internal_host" -> ("http" + sep + "metadata.google." + "internal/v1"),
      "credential_aws" -> ("AKIA" + "ABCDEFGHIJKLMNOP"),
      "credential_github" -> ("ghp" + "_" + "a" * 36),
      "credential_slack" -> ("xoxb" + "-" + "123456789012-abcdef"),
      "credential_pem" -> ("-----BEGIN RSA " + "PRIVATE KEY-----"),
      "credential_jwt" -> ("eyJhbGciOi" + "JIUzI1NiIsInR5cCI6IkpXVCJ9"),
      "reference_copyright" -> ("Copyright (c) 2023 " + "Airbyte, Inc."))
    fixtures.foreach { case (cls, bad) =>
      assert(violations(bad).nonEmpty, s"matcher missed seeded class $cls: $bad")
    }
    // and a clean line stays clean
    assert(violations(
      "import org.apache.spark.sql.DataFrame\n" +
        "// see https" + sep + "docs.airbyte.com/platform").isEmpty)
  }

  test("source gate: no src/main expression mixes in CodegenFallback") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from repo root: $root")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        codegenFallbackUses(text).map(u => s"$p -> $u")
      }
    assert(offenders.isEmpty,
      s"CodegenFallback in src/main (give the kernel a doGenCode):\n  " +
        offenders.mkString("\n  "))
  }

  test("the CodegenFallback matcher catches each mix-in and import form") {
    val bad = Seq(
      "case class K(child: Expression) extends UnaryExpression with CodegenFallback {",
      "case class K(child: Expression) extends UnaryExpression\n    with codegen.CodegenFallback",
      "case class K() extends LeafExpression with CodegenFallback with Nondeterministic",
      "import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback",
      "import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback}")
    bad.foreach(b => assert(codegenFallbackUses(b).nonEmpty, s"matcher missed: $b"))
    // prose about the trait, in line and block comments, stays clean
    assert(codegenFallbackUses(
      "// the former kernel mixed in with CodegenFallback\n" +
        "/** Real codegen (not CodegenFallback): inlines.\n  * extends CodegenFallback */\n" +
        "case class K(child: Expression) extends UnaryExpression {").isEmpty)
  }
}
