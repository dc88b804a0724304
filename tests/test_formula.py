"""Formula-language tests, porting the reference's parser suite
(WarpCoreTests.swift:696-756: accept/reject table, result assertions,
shorthand round trips) plus compile-to-Column evaluation checks."""

import math

import pytest
from pyspark.sql import functions as F

from warp_spark import formula as fm
from warp_spark.formula import (
    Binary,
    Foreign,
    FormulaError,
    Literal,
    Sibling,
    formula,
    parse,
    unparse,
)


def ev(spark, col):
    return spark.range(1).select(col.alias("out")).collect()[0]["out"]


def feval(spark, text, **kw):
    return ev(spark, formula(text, **kw))


# --- parse accepts (WarpCoreTests.swift:700-733) ---------------------------

ACCEPT = [
    "1.337",
    "1,337,338",  # thousand separators
    "1337,338",  # separators in the "wrong" place still parse
    "13%",
    "10Ki",
    "6~2",
    '"1,2,3"[2]',
    "6/ 2",
    "6 / 2",
    "6 /2",
    "(6>=2)>3",
    "6/(1-3/4)",
    "6/(1-3/4)+[colRef]",
    "6/(1-3/4)+#[colRef]",
    '6/(1-3/4)+[colRef]&"stringLit"',
    '6/(1-3/4)+colRef&"stringLit"',
    "1+col",
    "col+1",
    "{}",
    "{1,2,3}",
    "{1;2;3}",
    "{{1};{2;3};{4;5};6}",
    "fALse",
    "siN(1)",
    "SIN(1)",
    "POWER(2;4)",
    "=1+1",  # optional prefix
]

REJECT = [
    "1.337.338",  # double decimal separator
    "6/(1-3/4)±",  # garbage at the end
    "",
    "   ",
    "1+22@D@D@",
    "POWER(1;)",  # empty argument
]


@pytest.mark.parametrize("text", ACCEPT)
def test_parse_accepts(text):
    parse(text)  # must not raise


@pytest.mark.parametrize("text", REJECT)
def test_parse_rejects(text):
    with pytest.raises(FormulaError):
        parse(text)


# --- whitespace tolerance (WarpCoreTests.swift:729-733) --------------------

@pytest.mark.parametrize("ws", [" ", "\t", " \t", "\r", "\n", "\r\n"])
def test_whitespace_placement(ws):
    parse(f"6{ws}/{ws}({ws}1-3/{ws}4)")
    parse(f"{ws}6{ws}/{ws}({ws}1-3/{ws}4)")
    parse(f"6{ws}/{ws}({ws}1-3/{ws}4){ws}")


# --- literal values --------------------------------------------------------

def test_number_literals():
    assert parse("1.337") == Literal(1.337)
    assert parse("1,337,338") == Literal(1337338)
    assert parse("13%") == Literal(0.13)
    assert parse("10Ki") == Literal(10 * 1024.0)
    assert parse("-3") == Literal(-3)


def test_list_with_grouping_separator_is_single_int():
    # "{1,2,3}" is a one-element list holding 123 (WarpCoreTests.swift:726)
    assert parse("{1,2,3}") == fm.ListLiteral((Literal(123),))
    assert unparse(parse("{1,2,3}")) == "{123}"


def test_complex_list_roundtrip():
    assert unparse(parse("{{1};{2;3};{4;5};6}")) == "{{1};{2;3};{4;5};6}"


def test_string_escape():
    assert parse('"say ""hi"""') == Literal('say "hi"')


def test_constants_case_insensitive():
    assert parse("fALse") == Literal(False)
    assert parse("TRUE") == Literal(True)
    assert parse("pi") == Literal(3.141592654)
    assert parse("NULL") == Literal(None)


# --- shorthand sibling/foreign round trips (WarpCoreTests.swift:752-756) ---

def test_sibling_shorthand_roundtrip():
    assert unparse(Sibling("te_st")) == "te_st"
    assert unparse(Sibling("test#")) == "[test#]"
    assert unparse(Sibling("#test")) == "[#test]"
    assert unparse(Foreign("test#")) == "#[test#]"
    assert unparse(Foreign("te_st")) == "#te_st"


def test_col_plus_one_roundtrip():
    assert unparse(parse("col+1")) == "col+1"


def test_roundtrip_reparse_identity():
    # print → parse is the identity (WarpCoreTests.swift:670-694)
    for text in ACCEPT:
        ast = parse(text)
        assert parse(unparse(ast)) == ast


# --- NL locale (Language.swift:78-84, 122-135, 248-358) --------------------

def test_nl_function_names():
    assert parse("SOM(1;2;3)", "nl") == parse("SUM(1;2;3)")
    assert parse("GEMIDDELDE([prijs])", "nl") == parse("AVERAGE([prijs])")
    assert parse("HOOFDLETTERS(naam)", "nl") == parse("UPPER(naam)")


def test_nl_constants():
    assert parse("ALS(WAAR;1;LEEG)", "nl") == parse("IF(TRUE;1;NULL)")
    assert parse("ALS.FOUT(FOUT;ONWAAR)", "nl") == parse("IFERROR(ERROR;FALSE)")


def test_nl_number_separators():
    # decimal comma, grouping dot (Language.swift:122-130)
    assert parse("1.234,56", "nl") == parse("1,234.56")
    assert parse("0,5", "nl") == parse("0.5")
    assert parse("10%", "nl") == parse("10%")


def test_nl_only_count_distinct():
    # AANTAL.UNIEK exists only in the NL table — the reference's EN
    # surface has no name for countDistinct
    assert parse("AANTAL.UNIEK([x])", "nl").function == "countDistinct"
    with pytest.raises(FormulaError):
        parse("AANTAL.UNIEK([x])")


def test_nl_unknown_en_name_rejected():
    with pytest.raises(FormulaError):
        parse("AVERAGE(1;2)", "nl")  # EN name, NL locale, not shorthand-able


def test_cross_locale_roundtrip():
    # AST is locale-free: parse EN → render NL → parse NL → same AST
    for text in ACCEPT:
        ast = parse(text)
        assert parse(unparse(ast, locale="nl"), "nl") == ast


def test_unknown_locale():
    with pytest.raises(FormulaError):
        parse("1+1", "de")


# --- evaluation results ----------------------------------------------------

def test_eval_division_nesting(spark):
    assert feval(spark, "6/(1-3/4)") == 24.0


def test_eval_modulus(spark):
    assert feval(spark, "7~2") == 1.0


def test_eval_power_function(spark):
    assert feval(spark, "POWER(2;4)") == 16.0


def test_eval_sin_case_insensitive(spark):
    assert feval(spark, "siN(1)") == pytest.approx(math.sin(1.0))


def test_eval_percent_postfix(spark):
    assert feval(spark, "13%") == pytest.approx(0.13)


def test_eval_concat_operator(spark):
    assert feval(spark, '"a" & "b" & 3') == "ab3"


def test_eval_comparison_chain(spark):
    # (6>=2)>3 : true > 3 → numeric compare 1 > 3 → false
    assert feval(spark, "(6>=2)>3") is False


def test_eval_string_numeric_equality(spark):
    # Value("12") == Value(12) (WarpCoreTests.swift:122)
    assert feval(spark, '"12" = 12') is True


def test_eval_contains_operators(spark):
    assert feval(spark, '"Hello World" ~= "world"') is True
    assert feval(spark, '"Hello World" ~~= "world"') is False
    assert feval(spark, '"Hello World" ±= "WOR.D"') is True
    assert feval(spark, '"Hello World" ±±= "Wor.d"') is True


def test_eval_index_accessor(spark):
    # x[i] is 1-based nth (Function.swift:1294)
    assert feval(spark, "{10;20;30}[2]") == 20


def test_eval_key_lookup(spark):
    # x->key over an alternating key/value list (Value.swift:62-67)
    assert feval(spark, '{"a";1;"b";2}->"b"') == "2"


def test_eval_sibling_resolution(spark):
    row = spark.createDataFrame([(21, 2)], "x int, y int")
    out = row.select(formula("[x]*y").alias("out")).collect()[0]["out"]
    assert out == 42.0


def test_eval_divide_by_zero_is_null(spark):
    assert feval(spark, "1/0") is None


def test_eval_if(spark):
    assert feval(spark, 'IF(1>0; "yes"; "no")') == "yes"


def test_eval_scalar_aggregates(spark):
    assert feval(spark, "SUM(1;2;3)") == 6.0
    assert feval(spark, "MIN(3;1;2)") == 1.0
    assert feval(spark, "MAX(3;1;2)") == 3.0
    assert feval(spark, "AVERAGE(1;2;3)") == 2.0
    assert feval(spark, "COUNT(1;2;{})") == 2  # non-numeric args don't count
    assert feval(spark, "COUNTA(1;2;{})") == 3
    assert feval(spark, "MEDIAN(1;2;3;4)") == 2.5
    assert feval(spark, "MEDIAN.LOW(1;2;3;4)") == 2.0
    assert feval(spark, "MEDIAN.HIGH(1;2;3;4)") == 3.0


def test_eval_timestamp_literal(spark):
    # @0 is 2001-01-01T00:00:00Z (Value.swift:43-45)
    out = feval(spark, "TO.ISO8601.UTC(@0)")
    assert out == "2001-01-01T00:00:00Z"


def test_eval_error_constant_is_invalid(spark):
    assert feval(spark, "IFERROR(ERROR; 42)") == 42.0


def test_foreign_requires_context(spark):
    with pytest.raises(FormulaError):
        formula("#[other]")


# --- sequencer (WarpCoreTests.swift:624-668) -------------------------------

from warp_spark import sequencer as sq


def test_sequencer_charset():
    assert list(sq.values("[abc]")) == ["a", "b", "c"]


def test_sequencer_range_cardinality():
    assert sq.cardinality("[a-z]") == 26
    assert sq.cardinality("[a-z][a-z]") == 676
    assert sq.cardinality("[a-z]{2}") == 676


def test_sequencer_cross_product():
    assert sorted(sq.values("[ab][cd]")) == ["ac", "ad", "bc", "bd"]


def test_sequencer_alternation():
    assert sorted(sq.values("a|b")) == ["a", "b"]


def test_sequencer_maybe():
    # 'test?' generates 'test' and '' (? applies to the full string)
    assert sorted(sq.values("test?")) == ["", "test"]


def test_sequencer_escapes():
    assert list(sq.values("a\\[b")) == ["a[b"]
    assert list(sq.values("[\\[\\]]")) == ["[", "]"]


def test_sequencer_invalid():
    with pytest.raises(sq.SequencerError):
        sq.parse("[")
    with pytest.raises(sq.SequencerError):
        sq.parse("")


def test_sequencer_random_draw():
    vals = set(sq.values("[ab]{2}"))
    for _ in range(10):
        assert sq.random_draw("[ab]{2}") in vals


def test_sequencer_dataframe(spark):
    df = sq.sequencer_dataframe(spark, "[a-c][0-1]")
    got = sorted(r["value"] for r in df.collect())
    assert got == ["a0", "a1", "b0", "b1", "c0", "c1"]


# --- compiled-Column memo --------------------------------------------------


def _py4j_calls(spark, monkeypatch):
    client = spark.sparkContext._gateway._gateway_client
    calls = []
    real = client.send_command

    def counting(*a, **kw):
        calls.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(client, "send_command", counting)
    return calls


def test_formula_memo_hit_makes_no_py4j_call(spark, monkeypatch):
    text = "=[memo_a] * (1 - [memo_b]) + length([memo_c])"
    first = formula(text)
    calls = _py4j_calls(spark, monkeypatch)
    again = formula(text)
    assert again is first and calls == []
    assert feval(spark, "=3 * 2") == 6  # a memoized Column still evaluates


@pytest.mark.parametrize(
    "text", ["=RAND()", "=RANDBETWEEN(1; 6)", "=UUID()", "=NOW()", '=RANDSTRING("[ab]{4}")',
             "=[x] + RAND()"]
)
def test_volatile_formula_compiles_anew_each_call(spark, text):
    a, b = formula(text), formula(text)
    assert a is not b
    if "RAND" in text and "STRING" not in text:  # a new Column draws a new seed
        assert str(a) != str(b)


def test_random_formula_draws_new_values_each_compile(spark):
    df = spark.range(50)
    a = [r[0] for r in df.select(formula("=RAND()")).collect()]
    b = [r[0] for r in df.select(formula("=RAND()")).collect()]
    assert a != b


def test_formula_memo_keys_on_locale(spark):
    # en: "," groups thousands, so this is [x] > 300; nl: it is [x] > 30.0
    en, nl = formula("[x] > 30,0", locale="en"), formula("[x] > 30,0", locale="nl")
    assert en is not nl
    df = spark.createDataFrame([(100,)], "x long")
    assert df.select(en.alias("v")).collect()[0].v is False
    assert df.select(nl.alias("v")).collect()[0].v is True
    assert formula("[x] > 30,0", locale="nl") is nl


def test_formula_memo_bypassed_by_non_default_context(spark):
    text = "=[a] + 1"
    base = formula(text)
    assert formula(text, sibling=lambda n: F.col(n)) is not base
    assert formula("=[a] + #[b]", foreign=F.col) is not formula("=[a] + #[b]", foreign=F.col)
    ident = F.lit(2)
    assert formula("=@ * 2", identity=ident) is not formula("=@ * 2", identity=ident)
    assert feval(spark, "=@ * 2", identity=ident) == 4
    loc = fm.LOCALES["nl"]
    assert formula(text, locale=loc) is not formula(text, locale=loc)


def test_literals_parse_under_python_optimize():
    """String, blob and list literals advance the parser outside any
    assert, so they parse the same under ``python -O``."""
    import pathlib
    import subprocess
    import sys

    code = (
        "from warp_spark.formula import parse\n"
        "print(parse('=\"ab\"').value, parse('=`aGk=`').value, len(parse('={1;2}').items))"
    )
    out = subprocess.run(
        [sys.executable, "-O", "-c", code],
        cwd=pathlib.Path(__file__).resolve().parent.parent,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.split() == ["ab", "b'hi'", "2"]
