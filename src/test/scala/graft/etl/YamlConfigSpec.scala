package graft.etl

import org.scalatest.funsuite.AnyFunSuite

/** YAML loading + EtlConfig binding contracts (settings.py's
  * `yaml.safe_load` parity on the reference's config shape). */
class YamlConfigSpec extends AnyFunSuite {
  import YamlConfig._

  test("scalars: quotes, numbers, booleans, null, comments") {
    val root = parse(
      """a: 'single % kept'   # trailing comment
        |b: "dq \"esc\""
        |c: 42
        |d: -1.5
        |e: true
        |f: null
        |g: plain text with spaces
        |h: 'it''s quoted'
        |""".stripMargin).asInstanceOf[Map[String, Any]]
    assert(root("a") == "single % kept")
    assert(root("b") == "dq \"esc\"")
    assert(root("c") == 42L)
    assert(root("d") == -1.5)
    assert(root("e") == true)
    assert(root("f") == null)
    assert(root("g") == "plain text with spaces")
    assert(root("h") == "it's quoted")
  }

  test("nested blocks, block lists, inline collections, key order") {
    val root = parse(
      """top:
        |  mid:
        |    k1: v1
        |    k2: v2
        |  list:
        |    - one
        |    - two
        |  inline_list: [a, b, c]
        |  inline_map: {x: 1, y: 2}
        |""".stripMargin).asInstanceOf[Map[String, Any]]
    val top = root("top").asInstanceOf[Map[String, Any]]
    assert(top("mid").asInstanceOf[Map[String, Any]].keys.toSeq == Seq("k1", "k2"))
    assert(top("list") == Vector("one", "two"))
    assert(top("inline_list") == Vector("a", "b", "c"))
    assert(top("inline_map").asInstanceOf[Map[String, Any]] == Map("x" -> 1L, "y" -> 2L))
  }

  test("unsupported constructs and malformed lines are loud errors") {
    // global tags are refused by the safe loader, as by yaml.safe_load
    intercept[IllegalArgumentException](parse("a: !!python/object:os.system x"))
    val tab = intercept[IllegalArgumentException](parse("a:\n\tb: tabs"))
    assert(tab.getMessage.contains("line 2"), tab.getMessage) // SnakeYAML's mark survives
    intercept[IllegalArgumentException](parse("a: [unclosed"))
    // a cyclic list under yaml.safe_load; an error here
    intercept[IllegalArgumentException](parse("a: &x [*x]"))
    for (doc <- Seq("just a line without separator", "- a\n- b", "")) {
      val e = intercept[IllegalArgumentException](loadEtlConfig(doc))
      assert(e.getMessage.contains("root is not a mapping"), e.getMessage)
    }
  }

  test("yaml.safe_load parity table (PyYAML 6.0.3)") {
    // expected values are PyYAML 6.0.3 `yaml.safe_load(doc)["a"]`
    val table: Seq[(String, Any)] = Seq(
      "a: True" -> true,
      "a: yes" -> true,
      "a: Null" -> null,
      "a: 0x1F" -> 31L,
      "a: 1_000" -> 1000L,
      "a: \"\\u00e9\"" -> "\u00e9",
      "a: |\n  l1\n  l2\n" -> "l1\nl2\n",
      "a:\n- - n1\n  - n2\n" -> Vector(Vector("n1", "n2")),
      // PyYAML gives datetime.date(2024, 1, 1); this is its str()
      "a: 2024-01-01" -> "2024-01-01")
    for ((doc, want) <- table)
      assert(parse(doc).asInstanceOf[Map[String, Any]]("a") == want, doc)
    assert(parse("a: &x v\nb: *x") == Map("a" -> "v", "b" -> "v"))
    // the one known scalar difference: PyYAML's float needs a dot and a
    // signed exponent, so it keeps "1e3" a string
    assert(parse("a: 1e3") == Map("a" -> 1000.0))
  }

  test("aliases stay shared instead of expanding") {
    // 48 aliases (SnakeYAML's default limit is 50) name 3^16 leaves
    val doc = ("l0: &l0 [x, x, x]" +: (1 to 16).map(i => s"l$i: &l$i [*l${i - 1}, *l${i - 1}, *l${i - 1}]"))
      .mkString("\n")
    val top = parse(doc).asInstanceOf[Map[String, Any]]("l16").asInstanceOf[Vector[Any]]
    assert(top.size == 3 && (top(0).asInstanceOf[AnyRef] eq top(1).asInstanceOf[AnyRef]))
  }

  test("tabs inside quoted values are legal; escapes scan left to right") {
    // a tab csv_separator is valid YAML — only tab INDENTATION is not
    val root = parse("sep: '\t'\nesc: \"a\\\\nb\"\n").asInstanceOf[Map[String, Any]]
    assert(root("sep") == "\t")
    // "a\\nb" = literal backslash then 'n' — sequential replaces would
    // collapse it into a newline
    assert(root("esc") == "a\\nb")
  }

  test("fixture file binds to the exact code-built EtlConfig shape") {
    val cfg = loadEtlConfigFile(getClass.getResource("/etl_config.yaml").getPath)
    assert(cfg.filePattern.regex == """(\w+?)_(\w+?)_(stm|sec)\.csv""")
    val stm = cfg.mapping("stm")("alfabank")
    assert(stm.csvSeparator == ";")
    // key ORDER is part of the contract: original_fields keys act as
    // the csv projection (data_manager.py:49-53)
    assert(stm.originalFields.keys.toSeq == Seq("acc", "date", "amount", "flag", "descr"))
    assert(stm.originalFields("amount") == "sum")
    assert(stm.surrogateKeyColumns == Seq("acc_number", "dt", "sum"))
    assert(stm.accounts == Map("40817001" -> "Main account"))
    assert(stm.debitMultiplier == Map("D" -> -1, "K" -> 1))
    assert(stm.dateFormat == "%d.%m.%Y")
    assert(stm.desiredFields.head == "surrogate_key")
    val sec = cfg.mapping("sec")("alfabank")
    assert(sec.accounts.isEmpty && sec.debitMultiplier.isEmpty)
    assert(sec.dateFormat == "%Y-%m-%d")
  }

  test("two banks share desired_fields through an anchor and alias") {
    val cfg = loadEtlConfig(
      """file_pattern: '(\w+?)_(\w+?)_(stm|sec)\.csv'
        |mapping:
        |  stm:
        |    alfabank:
        |      csv_separator: ';'
        |      original_fields: {acc: acc_number, date: dt}
        |      surrogate_key_columns: [acc_number, dt]
        |      desired_fields: &stm_out
        |        - surrogate_key
        |        - acc_number
        |        - dt
        |    zorro:
        |      csv_separator: ','
        |      original_fields: {acc: acc_number, date: dt}
        |      surrogate_key_columns: [acc_number, dt]
        |      desired_fields: *stm_out
        |""".stripMargin)
    val banks = cfg.mapping("stm")
    assert(banks.keys.toSeq == Seq("alfabank", "zorro"))
    assert(banks("alfabank").desiredFields == Seq("surrogate_key", "acc_number", "dt"))
    assert(banks("zorro").desiredFields == banks("alfabank").desiredFields)
    assert(banks("zorro").csvSeparator == ",")
  }

  test("missing required keys name the key in the error") {
    val e = intercept[IllegalArgumentException](
      loadEtlConfig("file_pattern: 'x'\n"))
    assert(e.getMessage.contains("mapping"))
    val e2 = intercept[IllegalArgumentException](loadEtlConfig(
      """file_pattern: 'x'
        |mapping:
        |  stm:
        |    bank1:
        |      csv_separator: ';'
        |""".stripMargin))
    assert(e2.getMessage.contains("original_fields"))
    // an empty or wrongly typed field names its key path as well
    val fields = Map("csv_separator" -> "';'", "original_fields" -> "{acc: acc_number}",
      "surrogate_key_columns" -> "[acc_number]", "desired_fields" -> "[acc_number]")
    val rows = Seq(
      "csv_separator" -> "",
      "debit_multiplier" -> "{D: minus}",
      "surrogate_key_columns" -> "b",
      "desired_fields" -> "[acc_number, null]",
      "debit_multiplier" -> "{D: 3000000000}",
      "debit_multiplier" -> "{D: 99999999999999999999}")
    for ((key, value) <- rows) {
      val bank = (fields + (key -> value)).map { case (k, v) => s"      $k: $v" }
      val e3 = intercept[IllegalArgumentException](loadEtlConfig(
        ("file_pattern: 'x'\nmapping:\n  stm:\n    bank1:" +: bank.toSeq).mkString("\n")))
      assert(e3.getMessage.contains(s"mapping.stm.bank1.$key"), s"$key: $value -> ${e3.getMessage}")
    }
  }
}
