"""The Warp formula language: Excel-like formulas → ``pyspark.sql.Column``.

Re-implements the reference's PEG grammar (WarpCore/Sources/Formula.swift:
276-350) and EN locale surface (WarpCore/Sources/Language.swift:62-358) as
a hand-written recursive-descent parser over an immutable AST, plus a
compiler from AST to Spark ``Column`` expressions.

Grammar (EN locale; whitespace allowed between tokens):

    formula   := "="? logic EOF
    logic     := concat (cmpOp concat)*        cmpOp: >= > <= < = <> ~~= ~= ±±= ±=
    concat    := addition ("&" addition)*
    addition  := factor (("+" | "-") factor)*
    factor    := exponent (("*" | "/" | "~") exponent)*
    exponent  := indexed ("^" indexed)*
    indexed   := value (("[" value "]") | ("->" value))*
    value     := number | "@"digits ("."digits)? | string | blob | call
               | "@" | constant | sibling | foreign | list | "(" logic ")"
    number    := "-"? digits ("." digits)? postfix?     digits may contain ","
    string    := '"' (char | '""')* '"'
    blob      := '`' base64 '`'
    sibling   := "[" [^]]* "]" | shorthand              shorthand: [A-Za-z][A-Za-z0-9_]*
    foreign   := "#" sibling
    list      := "{" (logic (";" logic)*)? "}"
    call      := NAME "(" (logic (";" logic)*)? ")"     NAME case-insensitive

Operator semantics follow the reference's ``Value`` model
(WarpCore/Sources/Value.swift:484-545, 714-749) re-expressed per
SURVEY.md §7.1: arithmetic coerces both sides to numbers (NULL on
failure), ``&`` concatenates after string coercion, comparisons compare
numerically when both sides coerce to numbers and as strings otherwise,
``/0`` yields NULL, and the ``ERROR`` constant maps to NaN.
"""

from __future__ import annotations

import base64
import functools
import re
from dataclasses import dataclass, field
from typing import Callable, Mapping, Optional, Sequence, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

from warp_spark.functions.scalar import FUNCTIONS, call as call_function
from warp_spark.values import safe_div, to_number, to_string, warp_concat

# Seconds between 1970-01-01 and 2001-01-01 UTC — the reference's date
# epoch (Value.swift:43-45).
EPOCH_2001 = 978307200


class FormulaError(ValueError):
    """Raised when a formula fails to parse."""


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Node:
    pass


@dataclass(frozen=True)
class Literal(Node):
    value: object  # int | float | str | bool | bytes | None


@dataclass(frozen=True)
class ErrorConstant(Node):
    """The ERROR constant — Warp ``.invalid`` (→ NaN per SURVEY.md §7.1)."""


@dataclass(frozen=True)
class Timestamp(Node):
    seconds: float  # seconds since 2001-01-01T00:00:00Z (Value.swift:43-45)


@dataclass(frozen=True)
class Identity(Node):
    """``@`` — the current cell's value (Expression.swift:290-333)."""


@dataclass(frozen=True)
class Sibling(Node):
    name: str


@dataclass(frozen=True)
class Foreign(Node):
    name: str


@dataclass(frozen=True)
class Call(Node):
    function: str  # canonical function name (scalar.FUNCTIONS key)
    args: tuple = ()


@dataclass(frozen=True)
class ListLiteral(Node):
    items: tuple = ()


@dataclass(frozen=True)
class Binary(Node):
    op: str  # ^ * / ~ + - & > >= < <= = <> ~= ~~= ±= ±±=
    left: Node = None
    right: Node = None


@dataclass(frozen=True)
class Index(Node):
    base: Node = None
    index: Node = None  # 1-based (Function.swift:1294)


@dataclass(frozen=True)
class KeyLookup(Node):
    base: Node = None
    key: Node = None


# ---------------------------------------------------------------------------
# EN locale tables (Language.swift:62-358)
# ---------------------------------------------------------------------------

CONSTANTS: dict[str, Node] = {
    "TRUE": Literal(True),
    "FALSE": Literal(False),
    "PI": Literal(3.141592654),
    "NULL": Literal(None),
    "ERROR": ErrorConstant(),
}

# metric + binary postfix multipliers (Language.swift:88-120); case-sensitive
POSTFIXES: dict[str, float] = {
    "da": 10.0, "h": 100.0, "k": 1e3, "M": 1e6, "G": 1e9, "T": 1e12,
    "P": 1e15, "E": 1e18, "Z": 1e21, "Y": 1e24,
    "d": 0.1, "c": 0.01, "m": 0.001, "µ": 1e-6, "n": 1e-9, "p": 1e-12,
    "f": 1e-15, "a": 1e-18, "z": 1e-21, "y": 1e-24,
    "Ki": 1024.0, "Mi": 1024.0**2, "Gi": 1024.0**3, "Ti": 1024.0**4,
    "%": 0.01, "‰": 0.001, "‱": 0.0001,
}
_POSTFIXES_LONGEST_FIRST = sorted(POSTFIXES, key=len, reverse=True)

# EN formula name → canonical function name (Language.swift:138-246).
EN_FUNCTIONS: dict[str, str] = {
    "UPPER": "uppercase", "LOWER": "lowercase", "ABS": "abs", "AND": "and",
    "OR": "or", "SQRT": "sqrt", "SIN": "sin", "COS": "cos", "TAN": "tan",
    "ASIN": "asin", "ACOS": "acos", "ATAN": "atan", "SINH": "sinh",
    "COSH": "cosh", "TANH": "tanh", "IF": "if", "CONCAT": "concat",
    "LEFT": "left", "RIGHT": "right", "MID": "mid", "LENGTH": "length",
    "LOG": "log", "NOT": "not", "XOR": "xor", "REPLACE": "substitute",
    "REPLACE.PATTERN": "regexSubstitute", "TRIM": "trim",
    "SUM": "sum", "COUNT": "count", "AVERAGE": "average", "COUNTA": "countAll",
    "MIN": "min", "MAX": "max", "SMALL": "min", "LARGE": "max",
    "EXP": "exp", "LN": "ln", "ROUND": "round", "CHOOSE": "choose",
    "RANDBETWEEN": "randomBetween", "RAND": "random", "COALESCE": "coalesce",
    "IFERROR": "ifError", "PACK.VALUES": "pack", "NORM.INV": "normalInverse",
    "SIGN": "sign", "SPLIT": "split", "ITEMS": "items",
    "SIMILARITY": "levenshtein", "ENCODEURL": "urlEncode", "IN": "in",
    "NOT.IN": "notIn", "PROPER": "capitalize", "NOW": "now",
    "TO.UNIX": "toUnixTime", "FROM.UNIX": "fromUnixTime",
    "TO.ISO8601.UTC": "toUTCISO8601", "TO.ISO8601": "toLocalISO8601",
    "FROM.ISO8601": "fromISO8601", "TO.EXCELDATE": "toExcelDate",
    "FROM.EXCELDATE": "fromExcelDate", "DATE.UTC": "utcDate",
    "YEAR.UTC": "utcYear", "MONTH.UTC": "utcMonth", "DAY.UTC": "utcDay",
    "HOUR.UTC": "utcHour", "MINUTE.UTC": "utcMinute", "SECOND.UTC": "utcSecond",
    "DURATION": "duration", "AFTER": "after", "NEGATE": "negate",
    "FLOOR": "floor", "CEILING": "ceiling", "RANDSTRING": "randomString",
    "WRITE.DATE": "toUnicodeDateString", "READ.DATE": "fromUnicodeDateString",
    "POWER": "power", "UUID": "uuid",
    "MEDIAN.LOW": "medianLow", "MEDIAN.HIGH": "medianHigh",
    "MEDIAN.PACK": "medianPack", "MEDIAN": "median",
    "STDEV.P": "standardDeviationPopulation", "STDEV.S": "standardDeviationSample",
    "VAR.P": "variancePopulation", "VAR.S": "varianceSample",
    "FROM.JSON": "jsonDecode", "READ.NUMBER": "parseNumber",
    "HILBERT.D": "hilbertXYToD", "HILBERT.X": "hilbertDToX",
    "HILBERT.Y": "hilbertDToY", "POWER.UP": "powerUp", "POWER.DOWN": "powerDown",
    "BASE64.ENCODE": "base64Encode", "BASE64.DECODE": "base64Decode",
    "HEX.ENCODE": "hexEncode", "HEX.DECODE": "hexDecode",
    "SIZE.OF": "numberOfBytes", "ENCODE": "encodeString", "DECODE": "decodeString",
    "LIST": "list", "TO.JSON": "jsonEncode", "PACK": "packList",
    "UNPACK": "unpackList", "APPEND.LIST": "appendList", "APPEND": "appendValue",
    "GLUE": "glue",
}
# NL formula name → canonical function name (Language.swift:248-358).
# Note AANTAL.UNIEK (countDistinct) exists only in the NL table — the
# reference's EN surface has no formula name for countDistinct.
NL_FUNCTIONS: dict[str, str] = {
    "AANTAL": "count", "AANTAL.UNIEK": "countDistinct", "AANTALARG": "countAll",
    "ABS": "abs", "AFRONDEN": "round", "AFRONDEN.BENEDEN": "floor",
    "AFRONDEN.BOVEN": "ceiling", "ALS": "if", "ALS.FOUT": "ifError",
    "ASELECT": "random", "ASELECTTEKST": "randomString",
    "ASELECTTUSSEN": "randomBetween", "BASE64.DECODEREN": "base64Decode",
    "BASE64.ENCODEREN": "base64Encode", "BEGINLETTERS": "capitalize",
    "BOOGCOS": "acos", "BOOGSIN": "asin", "BOOGTAN": "atan",
    "COS": "cos", "COSH": "cosh", "DAG.UTC": "utcDay", "DATUM.UTC": "utcDate",
    "DECODEREN": "decodeString", "DEEL": "mid", "EERSTE.GELDIG": "coalesce",
    "EN": "and", "ENCODEREN": "encodeString", "EX.OF": "xor", "EXP": "exp",
    "GELIJKENIS": "levenshtein", "GEMIDDELDE": "average", "GROOTSTE": "max",
    "GROOTTE.VAN": "numberOfBytes", "HEX.DECODEREN": "hexDecode",
    "HEX.ENCODEREN": "hexEncode", "HILBERT.D": "hilbertXYToD",
    "HILBERT.X": "hilbertDToX", "HILBERT.Y": "hilbertDToY",
    "HOOFDLETTERS": "uppercase", "IN": "in", "INPAKKEN": "packList",
    "INVOEGEN": "appendValue", "INVOEGEN.LIJST": "appendList", "ITEMS": "items",
    "JAAR.UTC": "utcYear", "KIEZEN": "choose", "KLEINE.LETTERS": "lowercase",
    "KLEINSTE": "min", "LEES.DATUM": "fromUnicodeDateString",
    "LEES.GETAL": "parseNumber", "LENGTE": "length", "LIJMEN": "glue",
    "LIJST": "list", "LINKS": "left", "LN": "ln", "LOG": "log",
    "MAAND.UTC": "utcMonth", "MACHT": "power", "MACHT.OMHOOG": "powerUp",
    "MACHT.OMLAAG": "powerDown", "MAX": "max", "MEDIAAN": "median",
    "MEDIAAN.HOOG": "medianHigh", "MEDIAAN.LAAG": "medianLow",
    "MEDIAAN.PAKKET": "medianPack", "MIN": "min", "MINUUT.UTC": "utcMinute",
    "NA": "after", "NAAR.EXCELDATUM": "toExcelDate",
    "NAAR.ISO8601": "toLocalISO8601", "NAAR.ISO8601.UTC": "toUTCISO8601",
    "NAAR.JSON": "jsonEncode", "NAAR.UNIX": "toUnixTime", "NIET": "not",
    "NIET.IN": "notIn", "NORM.INV.N": "normalInverse", "NU": "now",
    "OF": "or", "OMKEREN": "negate", "POS.NEG": "sign", "RECHTS": "right",
    "SCHRIJF.DATUM": "toUnicodeDateString", "SECONDE.UTC": "utcSecond",
    "SIN": "sin", "SINH": "sinh", "SOM": "sum", "SPATIES.WISSEN": "trim",
    "SPLITS": "split", "STDEV.P": "standardDeviationPopulation",
    "STDEV.S": "standardDeviationSample", "SUBSTITUEREN": "substitute",
    "SUBSTITUEREN.PATROON": "regexSubstitute", "TAN": "tan", "TANH": "tanh",
    "TEKST.SAMENVOEGEN": "concat", "TIJDSDUUR": "duration",
    "UITPAKKEN": "unpackList", "URL.CODEREN": "urlEncode", "UUID": "uuid",
    "UUR.UTC": "utcHour", "VAN.EXCELDATUM": "fromExcelDate",
    "VAN.ISO8601": "fromISO8601", "VAN.JSON": "jsonDecode",
    "VAN.UNIX": "fromUnixTime", "VAR.P": "variancePopulation",
    "VAR.S": "varianceSample", "WAARDEN.INPAKKEN": "pack", "WORTEL": "sqrt",
}

NL_CONSTANTS: dict[str, Node] = {
    "WAAR": Literal(True),
    "ONWAAR": Literal(False),
    "PI": Literal(3.141592654),
    "LEEG": Literal(None),
    "FOUT": ErrorConstant(),
}


@dataclass(frozen=True)
class Locale:
    """Localized formula surface (Language.swift:27-45, 122-135): number
    separators, argument separator, constant and function name tables.
    Postfix multipliers are locale-independent (the reference defines
    them only for "en" and falls back, Language.swift:88-120)."""

    name: str
    decimal_sep: str
    group_sep: str
    arg_sep: str
    constants: Mapping[str, Node]
    functions: Mapping[str, str]

    def __post_init__(self):
        # canonical → preferred localized name, for unparse (first writer
        # wins: primary names precede aliases like SMALL/LARGE)
        to_name: dict[str, str] = {}
        for loc_name, canon in self.functions.items():
            to_name.setdefault(canon, loc_name)
        object.__setattr__(self, "_to_name", to_name)
        d, g = re.escape(self.decimal_sep), re.escape(self.group_sep)
        object.__setattr__(
            self,
            "_number_re",
            re.compile(rf"(-?)([0-9][0-9{g}]*)(?:{d}([0-9][0-9{g}]*))?"),
        )
        object.__setattr__(
            self,
            "_timestamp_re",
            re.compile(rf"@([0-9][0-9{g}]*(?:{d}[0-9]+)?)"),
        )
        const_names: dict[object, str] = {}
        for cname, cnode in self.constants.items():
            key = ("err",) if isinstance(cnode, ErrorConstant) else ("lit", cnode.value)
            const_names.setdefault(key, cname)
        object.__setattr__(self, "_const_names", const_names)


EN_LOCALE = Locale("en", ".", ",", ";", CONSTANTS, EN_FUNCTIONS)
NL_LOCALE = Locale("nl", ",", ".", ";", NL_CONSTANTS, NL_FUNCTIONS)
LOCALES: dict[str, Locale] = {"en": EN_LOCALE, "nl": NL_LOCALE}


def _locale(loc: Union[str, Locale, None]) -> Locale:
    if loc is None:
        return EN_LOCALE
    if isinstance(loc, Locale):
        return loc
    try:
        return LOCALES[loc]
    except KeyError:
        raise FormulaError(f"unknown locale {loc!r} (have: {sorted(LOCALES)})")


_SHORTHAND_RE = re.compile(r"[A-Za-z][A-Za-z0-9_]*\Z")
_WS = " \t\r\n"


# ---------------------------------------------------------------------------
# Parser (recursive descent; mirrors the rule structure at Formula.swift:296-350)
# ---------------------------------------------------------------------------

class _Parser:
    def __init__(self, text: str, locale: Locale = None):
        self.text = text
        self.pos = 0
        self.locale = locale or EN_LOCALE

    # -- low-level ---------------------------------------------------------
    def ws(self):
        while self.pos < len(self.text) and self.text[self.pos] in _WS:
            self.pos += 1

    def peek(self, s: str) -> bool:
        return self.text.startswith(s, self.pos)

    def eat(self, s: str) -> bool:
        if self.text.startswith(s, self.pos):
            self.pos += len(s)
            return True
        return False

    def error(self, msg: str):
        raise FormulaError(f"{msg} at position {self.pos} in {self.text!r}")

    # -- entry -------------------------------------------------------------
    def parse(self) -> Node:
        self.eat("=")  # optional prefix (Formula.swift:24)
        self.ws()
        node = self.logic()
        self.ws()
        if self.pos != len(self.text):
            self.error("unexpected trailing input")
        return node

    # -- precedence ladder -------------------------------------------------
    _CMP_OPS = ("~~=", "±±=", ">=", "<=", "<>", "~=", "±=", ">", "<", "=")

    def logic(self) -> Node:
        node = self.concatenation()
        while True:
            self.ws()
            for op in self._CMP_OPS:
                if self.eat(op):
                    self.ws()
                    node = Binary(op, node, self.concatenation())
                    break
            else:
                return node

    def concatenation(self) -> Node:
        node = self.addition()
        while True:
            self.ws()
            if self.eat("&"):
                self.ws()
                node = Binary("&", node, self.addition())
            else:
                return node

    def addition(self) -> Node:
        node = self.factor()
        while True:
            self.ws()
            # "->" must not lex as subtraction of ">"; it is handled in
            # indexed(), so a lone "-" here is always arithmetic
            if self.eat("+"):
                self.ws()
                node = Binary("+", node, self.factor())
            elif self.eat("-"):
                self.ws()
                node = Binary("-", node, self.factor())
            else:
                return node

    def factor(self) -> Node:
        node = self.exponent()
        while True:
            self.ws()
            if self.eat("*"):
                self.ws()
                node = Binary("*", node, self.exponent())
            elif self.eat("/"):
                self.ws()
                node = Binary("/", node, self.exponent())
            elif not self.peek("~=") and not self.peek("~~=") and self.eat("~"):
                self.ws()
                node = Binary("~", node, self.exponent())
            else:
                return node

    def exponent(self) -> Node:
        node = self.indexed()
        while True:
            self.ws()
            if self.eat("^"):
                self.ws()
                node = Binary("^", node, self.indexed())
            else:
                return node

    def indexed(self) -> Node:
        node = self.value()
        while True:
            self.ws()
            if self.eat("["):
                self.ws()
                idx = self.value()
                self.ws()
                if not self.eat("]"):
                    self.error("expected ']'")
                node = Index(node, idx)
            elif self.eat("->"):
                self.ws()
                node = KeyLookup(node, self.value())
            else:
                return node

    # -- values ------------------------------------------------------------
    def value(self) -> Node:
        if self.pos >= len(self.text):
            self.error("expected a value")
        ch = self.text[self.pos]
        if ch == "(":
            self.pos += 1
            self.ws()
            node = self.logic()
            self.ws()
            if not self.eat(")"):
                self.error("expected ')'")
            return node
        if ch == "{":
            return self.list_literal()
        if ch == '"':
            return self.string_literal()
        if ch == "`":
            return self.blob_literal()
        if ch == "@":
            # timestamp @digits takes precedence over the current-cell @
            m = self.locale._timestamp_re.match(self.text, self.pos)
            if m:
                self.pos = m.end()
                raw = m.group(1).replace(self.locale.group_sep, "").replace(
                    self.locale.decimal_sep, "."
                )
                return Timestamp(float(raw))
            self.pos += 1
            return Identity()
        if ch == "#":
            self.pos += 1
            if self.eat("["):
                end = self.text.find("]", self.pos)
                if end < 0:
                    self.error("expected ']'")
                name = self.text[self.pos:end]
                self.pos = end + 1
                return Foreign(name)
            m = re.match(r"[A-Za-z][A-Za-z0-9_]*", self.text[self.pos:])
            if not m:
                self.error("expected column name after '#'")
            self.pos += m.end()
            return Foreign(m.group(0))
        if ch == "[":
            self.pos += 1
            end = self.text.find("]", self.pos)
            if end < 0:
                self.error("expected ']'")
            name = self.text[self.pos:end]
            self.pos = end + 1
            return Sibling(name)
        if ch == "-" or ch.isdigit():
            return self.number()
        if ch.isalpha():
            return self.identifier()
        self.error(f"unexpected character {ch!r}")

    def number(self) -> Node:
        g = self.locale.group_sep
        m = self.locale._number_re.match(self.text, self.pos)
        if not m:
            self.error("expected a number")
        self.pos = m.end()
        sign = -1.0 if m.group(1) else 1.0
        whole = m.group(2).replace(g, "")
        frac = m.group(3)
        if frac is not None:
            base = float(f"{whole}.{frac.replace(g, '')}")
            is_int = False
        else:
            base = float(whole)
            is_int = True
        # postfix multiplier, attached directly (no whitespace), longest
        # match first; alphabetic postfixes must not eat into an identifier
        for pf in _POSTFIXES_LONGEST_FIRST:
            if self.text.startswith(pf, self.pos):
                nxt = self.pos + len(pf)
                if pf[-1].isalpha() and nxt < len(self.text) and (
                    self.text[nxt].isalnum() or self.text[nxt] == "_"
                ):
                    continue
                self.pos = nxt
                return Literal(sign * base * POSTFIXES[pf])
        if is_int:
            return Literal(int(sign) * int(whole))
        return Literal(sign * base)

    def string_literal(self) -> Node:
        self.eat('"')  # the opening " the caller dispatched on
        out = []
        while self.pos < len(self.text):
            if self.eat('""'):
                out.append('"')
            elif self.peek('"'):
                self.pos += 1
                return Literal("".join(out))
            else:
                out.append(self.text[self.pos])
                self.pos += 1
        self.error("unterminated string literal")

    def blob_literal(self) -> Node:
        self.eat("`")  # the opening ` the caller dispatched on
        end = self.text.find("`", self.pos)
        if end < 0:
            self.error("unterminated blob literal")
        b64 = self.text[self.pos:end]
        self.pos = end + 1
        try:
            return Literal(base64.b64decode(b64, validate=True))
        except Exception:
            self.error("invalid base64 in blob literal")

    def list_literal(self) -> Node:
        self.eat("{")  # the opening { the caller dispatched on
        self.ws()
        if self.eat("}"):
            return ListLiteral(())
        items = [self.logic()]
        self.ws()
        while self.eat(self.locale.arg_sep):
            self.ws()
            items.append(self.logic())
            self.ws()
        if not self.eat("}"):
            self.error("expected '}'")
        return ListLiteral(tuple(items))

    def identifier(self) -> Node:
        # maximal [A-Za-z][A-Za-z0-9_.]* chunk: function names may contain
        # '.', shorthand sibling names may not (Formula.swift:257-262)
        m = re.match(r"[A-Za-z][A-Za-z0-9_.]*", self.text[self.pos:])
        if m is None:
            # non-ASCII alphabetics reach here via str.isalpha() dispatch;
            # bare identifiers are ASCII-only ([col] refs take anything)
            self.error("unexpected character")
        name = m.group(0)
        upper = name.upper()
        after = self.pos + m.end()
        # function call? (constant and sibling never take '(')
        rest = self.text[after:].lstrip(_WS)
        if upper in self.locale.functions and rest.startswith("("):
            self.pos = after
            self.ws()
            self.eat("(")
            args = self.arguments()
            return Call(self.locale.functions[upper], tuple(args))
        if upper in self.locale.constants:
            self.pos = after
            return self.locale.constants[upper]
        if _SHORTHAND_RE.match(name):
            self.pos = after
            return Sibling(name)
        self.error(f"unknown identifier {name!r}")

    def arguments(self) -> list:
        self.ws()
        if self.eat(")"):
            return []
        args = [self.logic()]
        self.ws()
        while self.eat(self.locale.arg_sep):
            self.ws()
            args.append(self.logic())
            self.ws()
        if not self.eat(")"):
            self.error("expected ')'")
        return args


def parse(formula: str, locale: Union[str, Locale, None] = None) -> Node:
    """Parse a formula string into an AST. Raises FormulaError.

    ``locale`` selects the localized surface (function/constant names and
    number separators): ``"en"`` (default) or ``"nl"`` — the two the
    reference ships (Language.swift:62-67). The AST itself is
    locale-free; parse in one locale, unparse in another."""
    if not formula or not formula.strip() or formula.strip() == "=":
        raise FormulaError("empty formula")
    return _Parser(formula, _locale(locale)).parse()


# ---------------------------------------------------------------------------
# Compiler: AST → pyspark Column
# ---------------------------------------------------------------------------

def _num_cmp(op: Callable[[Column, Column], Column], a: Column, b: Column) -> Column:
    """Warp comparison: numeric when both sides coerce to numbers, else
    string comparison (Value.swift:553-636). NULL propagates (SQL
    semantics per SURVEY.md §7.1.1)."""
    an, bn = to_number(a), to_number(b)
    return F.when(an.isNotNull() & bn.isNotNull(), op(an, bn)).otherwise(
        op(to_string(a), to_string(b))
    )


def _compile_binary(op: str, a: Column, b: Column) -> Column:
    if op == "+":
        return to_number(a) + to_number(b)
    if op == "-":
        return to_number(a) - to_number(b)
    if op == "*":
        return to_number(a) * to_number(b)
    if op == "/":
        return safe_div(a, b)
    if op == "~":  # modulus (Function.swift:1910)
        return F.when(to_number(b) != 0, to_number(a) % to_number(b))
    if op == "^":
        return F.power(to_number(a), to_number(b))
    if op == "&":
        return warp_concat(a, b)
    if op == "=":
        return _num_cmp(lambda x, y: x == y, a, b)
    if op == "<>":
        return _num_cmp(lambda x, y: x != y, a, b)
    if op == ">":
        return _num_cmp(lambda x, y: x > y, a, b)
    if op == ">=":
        return _num_cmp(lambda x, y: x >= y, a, b)
    if op == "<":
        return _num_cmp(lambda x, y: x < y, a, b)
    if op == "<=":
        return _num_cmp(lambda x, y: x <= y, a, b)
    if op == "~=":  # contains, case-insensitive (Value.swift:714-749)
        return F.contains(F.lower(to_string(a)), F.lower(to_string(b)))
    if op == "~~=":  # contains, case-sensitive
        return F.contains(to_string(a), to_string(b))
    if op == "±=":  # regex match, case-insensitive
        return F.regexp_like(to_string(a), F.concat(F.lit("(?i)"), to_string(b)))
    if op == "±±=":  # regex match, case-sensitive
        return F.regexp_like(to_string(a), to_string(b))
    raise FormulaError(f"unknown operator {op!r}")


def to_column(
    node: Node,
    sibling: Callable[[str], Column] = F.col,
    foreign: Optional[Callable[[str], Column]] = None,
    identity: Optional[Column] = None,
    optimize: bool = True,
) -> Column:
    """Compile an AST to a Column. ``sibling`` resolves ``[col]`` refs,
    ``foreign`` resolves ``#[col]`` refs (join context), ``identity``
    supplies ``@`` (the target column's prior value).

    ``optimize`` runs the reference's ``Expression.prepare`` pass first
    (warp_spark/optimize.py: constant folding under Warp coercion,
    idempotent collapse, identical-operand comparison folding) —
    semantics-preserving, differentially tested."""
    if optimize:
        from warp_spark.optimize import prepare

        node = prepare(node)

    def rec(n: Node) -> Column:
        if isinstance(n, Literal):
            if n.value is None:
                return F.lit(None)
            return F.lit(n.value)
        if isinstance(n, ErrorConstant):
            return F.lit(float("nan"))
        if isinstance(n, Timestamp):
            return F.timestamp_seconds(F.lit(n.seconds + EPOCH_2001))
        if isinstance(n, Identity):
            if identity is None:
                raise FormulaError("'@' used outside a cell context")
            return identity
        if isinstance(n, Sibling):
            return sibling(n.name)
        if isinstance(n, Foreign):
            if foreign is None:
                raise FormulaError("foreign reference used outside a join context")
            return foreign(n.name)
        if isinstance(n, ListLiteral):
            # Warp lists are heterogeneous (Value.swift:56); Spark arrays
            # are not — a mixed-type literal list is built as
            # array<string>, a homogeneous one keeps its native type.
            kinds = set()
            for i in n.items:
                if isinstance(i, Literal) and i.value is not None:
                    kinds.add(
                        "num" if isinstance(i.value, (int, float)) and not isinstance(i.value, bool)
                        else type(i.value).__name__
                    )
            if len(kinds) > 1:
                return F.array(*[to_string(rec(i)) for i in n.items])
            return F.array(*[rec(i) for i in n.items])
        if isinstance(n, Binary):
            return _compile_binary(n.op, rec(n.left), rec(n.right))
        if isinstance(n, Index):
            return call_function("nth", rec(n.base), rec(n.index))
        if isinstance(n, KeyLookup):
            return call_function("valueForKey", rec(n.base), rec(n.key))
        if isinstance(n, Call):
            return call_function(n.function, *[rec(a) for a in n.args])
        raise FormulaError(f"cannot compile node {n!r}")

    return rec(node)


def formula(
    text: str,
    sibling: Callable[[str], Column] = F.col,
    foreign: Optional[Callable[[str], Column]] = None,
    identity: Optional[Column] = None,
    locale: Union[str, Locale, None] = None,
) -> Column:
    """Parse + compile a formula string to a Column.

    With ``sibling``/``foreign``/``identity`` at their defaults the
    Column is memoized by (text, locale): a Column is an unresolved,
    immutable expression tree, so one serves every plan it is used in.
    A formula that calls a volatile function (``random``, ``now``,
    ``uuid``, …) gets a new Column, and so a new seed, on every call."""
    if sibling is F.col and foreign is None and identity is None and not isinstance(locale, Locale):
        node, column = _memo(text, locale)
        return column if column is not None else to_column(node)
    return to_column(
        parse(text, locale=locale), sibling=sibling, foreign=foreign, identity=identity
    )


@functools.lru_cache(maxsize=1024)
def _memo(text: str, locale: Optional[str]) -> tuple[Node, Optional[Column]]:
    from warp_spark.optimize import _has_nondeterministic

    node = parse(text, locale=locale)
    return node, None if _has_nondeterministic(node) else to_column(node)


# ---------------------------------------------------------------------------
# Unparser (the reference's toFormula round trip, Expression.swift passim)
# ---------------------------------------------------------------------------

_PRECEDENCE = {
    "=": 1, "<>": 1, ">": 1, ">=": 1, "<": 1, "<=": 1,
    "~=": 1, "~~=": 1, "±=": 1, "±±=": 1,
    "&": 2, "+": 3, "-": 3, "*": 4, "/": 4, "~": 4, "^": 5,
}


def unparse(node: Node, top_level: bool = True, locale: Union[str, Locale, None] = None) -> str:
    """Render an AST back to formula syntax in the given locale;
    parse(unparse(x, loc), loc) == x."""
    loc = _locale(locale)
    sep = loc.arg_sep

    def const(key, fallback: str) -> str:
        return loc._const_names.get(key, fallback)

    def fmt_number(v) -> str:
        if isinstance(v, bool):
            return const(("lit", v), "TRUE" if v else "FALSE")
        if isinstance(v, int):
            return str(v)
        s = repr(float(v))
        if "e" in s or "E" in s:
            # the grammar has no scientific notation (digits "." digits,
            # Formula.swift:316-323) — print the exact plain-decimal
            # expansion instead; repr() guarantees float roundtrip
            from decimal import Decimal

            s = format(Decimal(s), "f")
        return s.replace(".", loc.decimal_sep)

    def rec(n: Node, parent_prec: int) -> str:
        if isinstance(n, Literal):
            v = n.value
            if v is None:
                return const(("lit", None), "NULL")
            if isinstance(v, bool):
                return const(("lit", v), "TRUE" if v else "FALSE")
            if v == 3.141592654:
                return const(("lit", 3.141592654), "PI")
            if isinstance(v, (int, float)):
                return fmt_number(v)
            if isinstance(v, str):
                return '"' + v.replace('"', '""') + '"'
            if isinstance(v, bytes):
                return "`" + base64.b64encode(v).decode() + "`"
            raise FormulaError(f"cannot unparse literal {v!r}")
        if isinstance(n, ErrorConstant):
            return const(("err",), "ERROR")
        if isinstance(n, Timestamp):
            s = n.seconds
            raw = str(int(s)) if s == int(s) else repr(s)
            return "@" + raw.replace(".", loc.decimal_sep)
        if isinstance(n, Identity):
            return "@"
        def col_ref(name: str) -> str:
            # bracket when shorthand would not round-trip: non-identifier
            # names, and names that collide with a locale constant (the
            # parser resolves bare `pi`/`true`/`waar` as constants first)
            if _SHORTHAND_RE.match(name) and name.upper() not in loc.constants:
                return name
            return f"[{name}]"

        if isinstance(n, Sibling):
            return col_ref(n.name)
        if isinstance(n, Foreign):
            return "#" + col_ref(n.name)
        if isinstance(n, ListLiteral):
            return "{" + sep.join(rec(i, 0) for i in n.items) + "}"
        if isinstance(n, Call):
            name = loc._to_name.get(n.function, n.function.upper())
            return name + "(" + sep.join(rec(a, 0) for a in n.args) + ")"
        if isinstance(n, Index):
            return rec(n.base, 6) + "[" + rec(n.index, 0) + "]"
        if isinstance(n, KeyLookup):
            return rec(n.base, 6) + "->" + rec(n.key, 6)
        if isinstance(n, Binary):
            prec = _PRECEDENCE[n.op]
            s = rec(n.left, prec) + n.op + rec(n.right, prec + 1)
            return f"({s})" if prec < parent_prec else s
        raise FormulaError(f"cannot unparse {n!r}")

    return rec(node, 0)
