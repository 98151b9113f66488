package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The engine library takes its settings from its callers (the config
  * YAML, query parameters), never from the process environment: an
  * exported variable must not be able to change a plan, a kernel or an
  * oracle. Only the mains own the deployment env contract
  * (`SPARK_GRAFT_CPUS`, `_MASTER`, `_SF_DIR`, ...). */
class EngineEnvSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")
  private val engineDirs =
    Seq("pipeline", "relational", "functions", "sources", "multimodal", "streaming")
  /** Mains that live beside engine code and read the env contract. */
  private val mains = Set(root.resolve("streaming/StreamParity.scala"))
  private val envRead = """sys\.env\b|System\.getenv\b""".r

  test("no engine module reads the process environment") {
    val files = engineDirs.flatMap { d =>
      val dir = root.resolve(d)
      assert(Files.isDirectory(dir), s"missing engine directory $dir")
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }.filterNot(mains)
    assert(files.nonEmpty)
    val offenders = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if envRead.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    if (offenders.nonEmpty)
      fail(offenders.mkString("engine modules read the environment:\n", "\n", ""))
  }
}
