package graft.tools

import graft.SparkSpec

class ToolsSpec extends SparkSpec {

  private def rejected(args: String*): String =
    Tools.command(args, Map.empty).swap.getOrElse(fail(s"accepted: $args"))

  test("bad command lines are rejected with the usage line, before any session") {
    // a rejection is decided from the arguments alone: `command` returns
    // Left without building the runnable's session
    Seq(Seq(), Seq("nope"), Seq("plan"), Seq("plan", "/data"),
        Seq("plan-formatted", "/data", "/out", "sfx"), Seq("verify", "/data", "/out"),
        Seq("scalepoint"), Seq("scalepoint", "/data", "0"), Seq("scalepoint", "/data", "11"),
        Seq("scalepoint", "/data", "2", "3"), Seq("emit-check", "extra"))
      .foreach(args => assert(rejected(args: _*).endsWith(Tools.usage), args))
    val unknown = rejected("time", "/data", "p07_route_multimatch_counts", "nope_q")
    assert(unknown.startsWith("unknown query 'nope_q'") && unknown.endsWith(Tools.usage))
    Seq(Seq("plan", "/data", "p07_route_multimatch_counts"), Seq("gen20m"),
        Seq("emit-check"), Seq("scalepoint", "/data", "3"))
      .foreach(args => assert(Tools.command(args, Map.empty).isRight, args))
  }

  test("default parallelism is the host's processors; SPARK_GRAFT_CPUS overrides") {
    assert(Tools.cpus(Map.empty) == Runtime.getRuntime.availableProcessors())
    assert(Tools.cpus(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
  }

  test("ScalingProbe keeps the main(Array[String]) that graft.Bench launches by name") {
    val m = Class.forName("graft.tools.ScalingProbe").getMethod("main", classOf[Array[String]])
    assert(java.lang.reflect.Modifier.isStatic(m.getModifiers))
  }

  test("plan mode prints the optimized and physical plan of a query") {
    val name = "p07_route_multimatch_counts"
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Tools.plan(spark, "/root/testdata/sf0.001", Seq(name)))
    val lines = out.toString("UTF-8").linesIterator.toSeq
    val opt = lines.indexOf(s"==== $name: optimized ====")
    val phys = lines.indexOf(s"==== $name: physical ====")
    assert(opt == 0 && phys > opt + 1, lines.take(3))
    assert(lines.drop(phys).exists(_.contains("Exchange")))
  }
}
