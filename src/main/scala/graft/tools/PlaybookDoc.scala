package graft.tools

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/**
 * Playbook documentation generator — the engine's counterpart of the
 * reference's man page + playbook development guide
 * (/root/reference/docs/etl-tool.1.man.txt,
 * /root/reference/docs/playbook_development_guide.md). The prose of
 * `docs/playbook.md` is hand-written; the `analytics:` ops reference
 * is RENDERED from the op declarations in
 * [[graft.compile.AnalyticsCompiler.ops]] (the same declarations the
 * load-time validator enforces and the stages read) between BEGIN/END
 * markers: each row names the op, its required params and its usage
 * (required params, then the optional ones with their defaults or enum
 * values, then the op's summary). So the doc cannot silently drift
 * from the op surface: PlaybookDocSpec re-renders and fails the build
 * on any difference. Regenerate with
 *
 *   sbt "runMain graft.tools.PlaybookDoc"
 */
object PlaybookDoc {

  val beginMarker = "<!-- BEGIN GENERATED: analytics ops (runMain graft.tools.PlaybookDoc) -->"
  val endMarker = "<!-- END GENERATED: analytics ops -->"

  /** The generated ops-reference section (between the markers). */
  def opsReference: String = {
    val rows = graft.compile.AnalyticsCompiler.ops.toSeq.sortBy(_._1)
      .map { case (name, op) =>
        // usage strings carry literal pipes (mode=report|filter) that
        // would break the markdown table
        s"| `$name` | ${op.required.map(p => s"`${p.name}`").mkString(", ")} | ${op.usage.replace("|", "\\|")} |"
      }
    val paths = graft.compile.AnalyticsCompiler.pathParams.toSeq.sorted.map(p => s"`$p`")
    ("| op | required params | usage |\n| --- | --- | --- |\n" +
      rows.mkString("\n") +
      s"\n\nPath params, the only ones whose `$$VAR`, `$${VAR}` and `%VAR%` expand from the environment: ${paths.mkString(", ")}.")
  }

  /** Replace the delimited section of `docs/playbook.md` in place. */
  def main(args: Array[String]): Unit = {
    val path = Paths.get(if (args.nonEmpty) args(0) else "docs/playbook.md")
    val doc = new String(Files.readAllBytes(path), StandardCharsets.UTF_8)
    val (b, e) = (doc.indexOf(beginMarker), doc.indexOf(endMarker))
    require(b >= 0 && e > b, s"$path is missing the BEGIN/END generated-section markers")
    val next = doc.substring(0, b + beginMarker.length) + "\n" +
      opsReference + "\n" + doc.substring(e)
    Files.write(path, next.getBytes(StandardCharsets.UTF_8))
    println(s"[playbook-doc] rewrote ${path} (" +
      s"${graft.compile.AnalyticsCompiler.ops.size} analytics ops)")
  }
}
