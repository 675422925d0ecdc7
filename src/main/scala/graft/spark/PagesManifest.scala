package graft.spark

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, Join, LocalLimit, LogicalPlan,
  Project, RepartitionOperation, Sort, SubqueryAlias, Union}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}

/** The pages table's manifest: Iceberg's column bounds for the one column
  * extraction routes on. `PagesGen.writeBucketed` leaves `_manifest.json`
  * at the table root. It names every data file the write produced (path
  * under the root, byte length) and the largest `html` payload among
  * their rows. Spark's file listing skips names that start with `_`, so
  * readers never see the file, and an overwrite of the table deletes it
  * with the rest.
  *
  * [[htmlBound]] trusts a manifest only for files it names with the
  * length it recorded. A file added after the write, or one rewritten,
  * makes the table unbounded; so does a missing or unreadable manifest. */
object PagesManifest {

  val FileName = "_manifest.json"
  private val Format = "graft-pages-manifest/1"
  private val mapper = new ObjectMapper()

  /** `files` maps a data file's path under the table root to its length. */
  final case class Manifest(maxHtmlBytes: Long, files: Map[String, Long])

  /** Records the data files now under `root`, just written, with the
    * largest payload the write observed. Listed on the driver: no job. */
  def write(spark: SparkSession, root: String, maxHtmlBytes: Long): Unit = {
    val (fs, dir) = qualify(spark, root)
    val node = mapper.createObjectNode()
    node.put("format", Format)
    node.put("max_html_bytes", maxHtmlBytes)
    val files = node.putArray("files")
    // a plain listing, as in ExtractJob.record: `listFiles` would read each
    // file's permissions, which the local filesystem without native code
    // does by forking `ls`
    def walk(d: Path): Unit = for (st <- fs.listStatus(d) if !ExtractJob.hidden(st.getPath.getName)) {
      if (st.isDirectory) walk(st.getPath)
      else relative(dir, st.getPath).foreach(p => files.addObject().put("path", p).put("bytes", st.getLen))
    }
    walk(dir)
    val out = fs.create(new Path(dir, FileName), true)
    try out.write(mapper.writeValueAsBytes(node)) finally out.close()
  }

  /** The manifest at `root`, if there is one in this format. */
  def read(spark: SparkSession, root: String): Option[Manifest] = {
    val (fs, dir) = qualify(spark, root)
    read(fs, dir)
  }

  private def read(fs: FileSystem, dir: Path): Option[Manifest] =
    try {
      val in = fs.open(new Path(dir, FileName))
      val node = try mapper.readTree(in) finally in.close()
      val max = node.path("max_html_bytes")
      val files = node.path("files")
      if (node.path("format").asText() != Format || !max.isIntegralNumber || !files.isArray) None
      else {
        val entries = (0 until files.size).map(files.get)
        if (entries.exists(e => !e.path("path").isTextual || !e.path("bytes").isIntegralNumber)) None
        else Some(Manifest(max.asLong, entries.map(e => e.get("path").asText -> e.get("bytes").asLong).toMap))
      }
    } catch { case _: java.io.IOException => None }

  /** The largest `html` payload `pages` can hold, when its analyzed plan
    * proves one. The column is followed down from `pages`' output through
    * renaming Projects, Filter, Join, Sort, Limit, Repartition and
    * SubqueryAlias, and through Union when every child is bounded, to
    * file relations whose column is named `html`. Each such relation must
    * be a manifested table whose file listing the manifest covers. Any
    * other node, or an `html` computed by an expression, is unbounded. */
  def htmlBound(pages: DataFrame): Option[Long] = {
    val plan = pages.queryExecution.analyzed
    plan.output.find(_.name == "html").flatMap(bound(plan, _))
  }

  private def bound(plan: LogicalPlan, a: Attribute): Option[Long] = plan match {
    case p: Project => p.projectList.find(_.exprId == a.exprId).flatMap {
      case r: Attribute           => bound(p.child, r)
      case Alias(r: Attribute, _) => bound(p.child, r)
      case _                      => None
    }
    case _: Filter | _: Sort | _: GlobalLimit | _: LocalLimit | _: RepartitionOperation | _: SubqueryAlias =>
      bound(plan.children.head, a)
    case j: Join => j.children.find(_.outputSet.contains(a)).flatMap(bound(_, a))
    case u: Union =>
      val i = u.output.indexWhere(_.exprId == a.exprId)
      val bounds = u.children.map(c => bound(c, c.output(i)))
      if (bounds.forall(_.isDefined)) Some(bounds.flatten.max) else None
    case LogicalRelation(h: HadoopFsRelation, _, _, _, _) if a.name == "html" => tableBound(h)
    case _ => None
  }

  /** The largest manifest bound over `h`'s roots, if every file `h`
    * lists is named, with its length, by the manifest of its root. */
  private def tableBound(h: HadoopFsRelation): Option[Long] = h.location match {
    case index: PartitioningAwareFileIndex if index.rootPaths.nonEmpty =>
      val conf = h.sparkSession.sparkContext.hadoopConfiguration
      val found = index.rootPaths.map(r => read(r.getFileSystem(conf), r).map(r -> _))
      if (found.exists(_.isEmpty)) None
      else {
        val manifests = found.flatten
        def named(f: FileStatus) = manifests.exists { case (r, m) =>
          relative(r, f.getPath).flatMap(m.files.get).contains(f.getLen)
        }
        if (index.allFiles().forall(named)) Some(manifests.map(_._2.maxHtmlBytes).max) else None
      }
    case _ => None
  }

  private def qualify(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  /** `file`'s path under `root`, if it is under it. */
  private def relative(root: Path, file: Path): Option[String] = {
    val r = root.toUri.relativize(file.toUri)
    if (r.isAbsolute || r.getPath.isEmpty) None else Some(r.getPath)
  }
}
