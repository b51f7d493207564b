package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The engine's `graft.tools` package carries only the maintained
  * tools: gates, measurement fronts and the init job. A new `main`
  * there fails this spec until it is added to the list on purpose. */
class ToolMainsSpec extends AnyFunSuite {

  private val maintained = Set("RecallGate", "RecallCheck", "PairCheck",
    "GateProfile", "PlanDump", "XScaleLeg", "QScaleLeg", "StreamMarginal",
    "InitJob", "MergeProbe", "ManifestTreeProbe")

  test("graft.tools defines main only in the maintained tools") {
    val loc = InitJob.getClass.getProtectionDomain.getCodeSource.getLocation
    val dir = new java.io.File(new java.io.File(loc.toURI), "graft/tools")
    assert(dir.isDirectory, s"expected compiled main classes under $dir")
    val loader = getClass.getClassLoader
    val withMain = dir.listFiles().toSeq.map(_.getName)
      .filter(n => n.endsWith(".class") && !n.contains("$"))
      .map(_.stripSuffix(".class"))
      .filter { n =>
        Class.forName(s"graft.tools.$n", false, loader).getMethods.exists {
          m => m.getName == "main" &&
            java.lang.reflect.Modifier.isStatic(m.getModifiers) &&
            m.getParameterTypes.sameElements(Seq(classOf[Array[String]]))
        }
      }.toSet
    assert(withMain == maintained,
      s"unlisted mains: ${(withMain -- maintained).toSeq.sorted}; " +
        s"missing: ${(maintained -- withMain).toSeq.sorted}. One-off " +
        "probes belong in src/test, not in the engine's graft.tools; " +
        "add a maintained tool to this list on purpose.")
  }
}
