package graft.etl

import org.yaml.snakeyaml.{LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor
import org.yaml.snakeyaml.error.YAMLException
import org.yaml.snakeyaml.nodes.Tag

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

/** YAML config loading — the reference's primary UX is a YAML file
  * parsed with `yaml.safe_load` (settings.py:23–31) whose shape is the
  * `file_pattern` + `mapping.{stm,sec}.{bank}` tree consumed by
  * data_manager.py:38–109. SnakeYAML's YAML 1.1 safe loader, the JVM
  * counterpart of PyYAML's, loads it: anchors, block scalars, nested
  * lists and 1.1 scalars (`yes`, `0x1F`, `1_000`) as `safe_load` does,
  * global tags and tab indentation as errors. Known differences: `1e3`
  * (no dot, unsigned exponent) is a Double here and a string there; a
  * bare date stays its text (PyYAML's `str()` of its `date`); a
  * recursive alias is an error, not a cyclic list. The `LoaderOptions`
  * defaults (alias, nesting and code-point limits) guard the input.
  *
  * Driver-side, bounded data: config never touches an executor.
  */
object YamlConfig {

  /** Parse YAML text into Map[String, Any] / Vector[Any] / String /
    * Long / Double / Boolean / null. Maps preserve key order (the
    * reference's `original_fields` keys double as a projection) and
    * their keys are strings. Malformed YAML is an
    * IllegalArgumentException carrying SnakeYAML's line/column mark. */
  def parse(text: String): Any = {
    val safe = new SafeConstructor(new LoaderOptions) {
      yamlConstructors.put(Tag.TIMESTAMP, new ConstructYamlStr) // a bare date stays its text
    }
    val loaded =
      try new Yaml(safe).load[AnyRef](text)
      catch { case e: YAMLException => throw new IllegalArgumentException(s"YAML: ${e.getMessage}", e) }
    toScala(loaded, new java.util.IdentityHashMap[AnyRef, Any])
  }

  /** SnakeYAML's Java tree -> the documented Scala shape. Each
    * collection converts once (`seen`), so aliases stay shared instead
    * of expanding, and a recursive alias (`a: &x [*x]`, which the safe
    * loader builds as a cyclic list) is an error. */
  private def toScala(v: Any, seen: java.util.IdentityHashMap[AnyRef, Any]): Any = v match {
    case null | (_: String) | (_: java.lang.Boolean) | (_: java.lang.Double) => v
    case i: java.lang.Integer => i.toLong
    case l: java.lang.Long => l.longValue
    case c: AnyRef if seen.containsKey(c) =>
      Option(seen.get(c)).getOrElse(throw new IllegalArgumentException("YAML: recursive alias"))
    case c: AnyRef =>
      seen.put(c, null) // in progress: meeting it again below is a cycle
      val out = c match {
        case m: java.util.Map[_, _] => m.asScala.foldLeft(VectorMap.empty[String, Any]) {
          case (acc, (k, x)) => acc.updated(String.valueOf(toScala(k, seen)), toScala(x, seen))
        }
        case xs: java.util.List[_] => xs.asScala.map(toScala(_, seen)).toVector
        case other => throw new IllegalArgumentException(s"YAML: unsupported value of type ${other.getClass.getName}")
      }
      seen.put(c, out)
      out
  }

  // ---- EtlConfig binding (settings.py:23–31 -> the case-class tree) ----

  private def str(v: Any): String = v.toString
  private def strSeq(v: Any): Seq[String] =
    v.asInstanceOf[Vector[Any]].map(_.toString)
  private def strMap(v: Any): Map[String, String] =
    v.asInstanceOf[VectorMap[String, Any]].map { case (k, x) => k -> x.toString }
  private def intMap(v: Any): Map[String, Int] =
    v.asInstanceOf[VectorMap[String, Any]].map { case (k, x) => k -> x.asInstanceOf[Long].toInt }
  private def mapAt(v: Any, where: String): VectorMap[String, Any] = v match {
    case m: VectorMap[String, Any] @unchecked => m
    case _ => throw new IllegalArgumentException(s"config $where is not a mapping")
  }

  /** Bind parsed YAML to [[EtlConfig]]; missing required keys are
    * errors naming the key (the reference fails fast in its loader
    * too — settings.py:29–31 logs and re-raises). */
  def toEtlConfig(root: Any): EtlConfig = {
    val m = mapAt(root, "root")
    def req(key: String): Any =
      m.getOrElse(key, throw new IllegalArgumentException(s"config is missing required key '$key'"))
    val mapping = mapAt(req("mapping"), "mapping").map { case (mt, banks) =>
      mt -> mapAt(banks, s"mapping.$mt").map { case (bank, cfg) =>
        val c = mapAt(cfg, s"mapping.$mt.$bank")
        def creq(key: String): Any = c.getOrElse(key,
          throw new IllegalArgumentException(s"mapping.$mt.$bank is missing required key '$key'"))
        bank -> FileMappingConfig(
          csvSeparator = str(creq("csv_separator")),
          originalFields = strMap(creq("original_fields")),
          surrogateKeyColumns = strSeq(creq("surrogate_key_columns")),
          accounts = c.get("accounts").map(strMap).getOrElse(Map.empty),
          debitMultiplier = c.get("debit_multiplier").map(intMap).getOrElse(Map.empty),
          dateFormat = c.get("date_format").map(str).getOrElse("%Y-%m-%d"),
          desiredFields = strSeq(creq("desired_fields")))
      }
    }
    EtlConfig(str(req("file_pattern")).r, mapping)
  }

  def loadEtlConfig(text: String): EtlConfig = toEtlConfig(parse(text))

  def loadEtlConfigFile(path: String): EtlConfig =
    loadEtlConfig(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
}
