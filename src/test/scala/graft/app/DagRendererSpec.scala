package graft.app

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Spool

/** C4 contract: placeholder substitution per the reference generator,
  * plus the generated-id / trigger-id round trip the reference breaks
  * (its generator writes `_worflow`, its trigger POSTs `_workflow`). */
class DagRendererSpec extends AnyFunSuite {

  private val template =
    """dag_id = "dag_id_placeholder"
      |src = "src_sys_id_placeholder"
      |ast = "ast_id_placeholder"
      |schedule = "schedule_placeholder"
      |""".stripMargin

  test("substitutes ids and a cron schedule inside the quotes") {
    val out = DagRenderer.render(template, 7, 42, Some("0 3 * * *"))
    assert(out.contains("dag_id = \"7_42_workflow\""))
    assert(out.contains("src = \"7\""))
    assert(out.contains("ast = \"42\""))
    assert(out.contains("schedule = \"0 3 * * *\""))
  }

  test("schedule None renders a BARE Python None (quotes consumed)") {
    val out = DagRenderer.render(template, 7, 42, None)
    assert(out.contains("schedule = None"))
    assert(!out.contains("\"None\""))
  }

  test("generated file name round-trips through the event trigger's dag id") {
    val dir = java.nio.file.Paths.get(Spool.dir("graft-dags"))
    val p = DagRenderer.write(dir, template, 7, 42, None)
    // the trigger posts to dags/{dagId}/dagRuns — the generated file must
    // carry THAT id, or (as in the reference) no event ever runs the DAG
    assert(p.getFileName.toString == TriggerSink.dagId(7, 42) + ".py")
    val rendered = java.nio.file.Files.readString(p)
    assert(rendered.contains(s"""dag_id = "${TriggerSink.dagId(7, 42)}""""))
  }
}
