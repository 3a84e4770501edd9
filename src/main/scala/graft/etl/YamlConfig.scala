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
    * Long / BigInt (an integer beyond Long) / Double / Boolean / null. Maps preserve key order (the
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
    case b: java.math.BigInteger => BigInt(b)
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

  /** Every config field binds through here: `pf` accepts the value at
    * `path`; anything else (null, a wrong type, an out-of-range
    * number) is an IllegalArgumentException naming the key path. */
  private def bind[T](path: String, want: String)(pf: PartialFunction[Any, T])(v: Any): T =
    pf.applyOrElse(v, (got: Any) => throw new IllegalArgumentException(
      s"config $path is not $want (got ${if (got == null) "null" else s"'$got'"})"))

  private def str(path: String)(v: Any): String = bind(path, "a scalar") {
    case x @ (_: String | _: Long | _: BigInt | _: Double | _: Boolean) => x.toString
  }(v)
  private def strSeq(path: String)(v: Any): Seq[String] = bind(path, "a list") {
    case xs: Vector[Any] @unchecked => xs.zipWithIndex.map { case (x, i) => str(s"$path[$i]")(x) }
  }(v)
  private def mapAt(path: String)(v: Any): VectorMap[String, Any] = bind(path, "a mapping") {
    case m: VectorMap[String, Any] @unchecked => m
  }(v)
  private def strMap(path: String)(v: Any): Map[String, String] =
    mapAt(path)(v).map { case (k, x) => k -> str(s"$path.$k")(x) }
  private def intMap(path: String)(v: Any): Map[String, Int] =
    mapAt(path)(v).map { case (k, x) =>
      k -> bind(s"$path.$k", "a 32-bit integer") { case l: Long if l.isValidInt => l.toInt }(x)
    }

  /** Bind parsed YAML to [[EtlConfig]]; missing required keys are
    * errors naming the key (the reference fails fast in its loader
    * too — settings.py:29–31 logs and re-raises). */
  def toEtlConfig(root: Any): EtlConfig = {
    val m = mapAt("root")(root)
    def req(key: String): Any =
      m.getOrElse(key, throw new IllegalArgumentException(s"config is missing required key '$key'"))
    val mapping = mapAt("mapping")(req("mapping")).map { case (mt, banks) =>
      mt -> mapAt(s"mapping.$mt")(banks).map { case (bank, cfg) =>
        val at = s"mapping.$mt.$bank"
        val c = mapAt(at)(cfg)
        def creq[T](key: String)(as: String => Any => T): T = as(s"$at.$key")(c.getOrElse(key,
          throw new IllegalArgumentException(s"$at is missing required key '$key'")))
        def opt[T](key: String)(as: String => Any => T): Option[T] = c.get(key).map(as(s"$at.$key"))
        bank -> FileMappingConfig(
          csvSeparator = creq("csv_separator")(str),
          originalFields = creq("original_fields")(strMap),
          surrogateKeyColumns = creq("surrogate_key_columns")(strSeq),
          accounts = opt("accounts")(strMap).getOrElse(Map.empty),
          debitMultiplier = opt("debit_multiplier")(intMap).getOrElse(Map.empty),
          dateFormat = opt("date_format")(str).getOrElse("%Y-%m-%d"),
          desiredFields = creq("desired_fields")(strSeq))
      }
    }
    EtlConfig(str("file_pattern")(req("file_pattern")).r, mapping)
  }

  def loadEtlConfig(text: String): EtlConfig = toEtlConfig(parse(text))

  def loadEtlConfigFile(path: String): EtlConfig =
    loadEtlConfig(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
}
