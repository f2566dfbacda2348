"""`awk` processor: a pattern-action AWK interpreter, pure Python.

Re-expresses the reference's awk processor (internal/impl/awk/ — runs
an AWK program against each message's content; print output becomes
the new content) without an external awk binary. The implemented
subset covers the POSIX core that log/text pipelines actually use:

- items: ``BEGIN { }``, ``END { }``, ``/regex/ { }``, ``expr { }``,
  bare ``{ action }`` (every record), bare pattern (default action =
  ``print $0``)
- fields ``$0``..``$NF`` (read + assignment rebuilds $0 with OFS),
  built-in vars ``NR``, ``NF``, ``FS``, ``OFS`` and user globals
- expressions: arithmetic, string concatenation by juxtaposition,
  comparisons (numeric when both sides look numeric, else string),
  ``&& || !``, regex ``~`` / ``!~``, ternary ``?:``
- statements: assignment (``= += -= *= /=``), ``print``, ``printf``,
  ``if``/``else``, ``next``, blocks
- functions: length, substr, index, toupper, tolower, sprintf, int

Execution is per message through an Arrow-batched pandas UDF — the
same engine slot the subprocess/JS/wasm extensions occupy.
"""

from __future__ import annotations

import re

from pyspark.sql import Column

from connect_spark.boundary import row_udf

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>[ \t]+)
  | (?P<comment>\#[^\n]*)
  | (?P<newline>\n)
  | (?P<number>\d+(\.\d+)?)
  | (?P<string>"(?:[^"\\]|\\.)*")
  | (?P<regex>/(?:[^/\\\n]|\\.)+/)
  | (?P<name>[A-Za-z_][A-Za-z_0-9]*)
  | (?P<field>\$[0-9]+|\$[A-Za-z_(][A-Za-z_0-9]*\)?|\$)
  | (?P<op>\+=|-=|\*=|/=|==|!=|<=|>=|&&|\|\||!~|[-+*/%<>=!~?:;{}(),])
    """,
    re.VERBOSE,
)

_KEYWORDS = {"BEGIN", "END", "print", "printf", "if", "else", "next"}


def _tokenize(src: str) -> list[tuple[str, str]]:
    toks: list[tuple[str, str]] = []
    i = 0
    prev_kind = "start"
    while i < len(src):
        m = _TOKEN_RE.match(src, i)
        if not m:
            raise SyntaxError(f"awk: bad token at {src[i:i+20]!r}")
        kind = m.lastgroup
        text = m.group()
        i = m.end()
        if kind in ("ws", "comment"):
            continue
        if kind == "newline":
            # newlines end statements like ';'
            if toks and toks[-1][0] not in ("op-open", "semi"):
                toks.append(("semi", ";"))
            continue
        if kind == "regex" and prev_kind in (
            "number", "string", "name", "field", "close"
        ):
            # '/' after an operand is division, re-lex conservatively:
            toks.append(("op", "/"))
            i = m.start() + 1
            prev_kind = "op"
            continue
        if kind == "op":
            if text == ";":
                toks.append(("semi", ";"))
                prev_kind = "semi"
                continue
            tag = "op-open" if text in ("{", "(", ",") else "op"
            toks.append((tag, text))
            prev_kind = "close" if text in (")",) else "op"
            continue
        toks.append((kind, text))
        prev_kind = kind
    return toks


class _Parser:
    def __init__(self, toks: list[tuple[str, str]]):
        self.toks = toks
        self.i = 0

    def peek(self, k: int = 0):
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else ("eof", "")

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def accept(self, text: str) -> bool:
        kind, val = self.peek()
        if val == text and kind in ("op", "op-open", "name", "semi"):
            self.i += 1
            return True
        return False

    def expect(self, text: str):
        if not self.accept(text):
            raise SyntaxError(f"awk: expected {text!r}, got {self.peek()!r}")

    def skip_semis(self):
        while self.peek()[0] == "semi":
            self.i += 1

    # ---- program = item* ----
    def parse_program(self):
        items = []
        self.skip_semis()
        while self.peek()[0] != "eof":
            items.append(self.parse_item())
            self.skip_semis()
        return items

    def parse_item(self):
        kind, val = self.peek()
        pattern = None
        if val == "BEGIN" or val == "END":
            self.next()
            pattern = val
        elif val != "{":
            pattern = ("expr", self.parse_expr())
        if self.peek()[1] == "{":
            body = self.parse_block()
        else:
            body = [("print", [("field", 0)])]
        return (pattern, body)

    def parse_block(self):
        self.expect("{")
        stmts = []
        self.skip_semis()
        while self.peek()[1] != "}":
            stmts.append(self.parse_stmt())
            self.skip_semis()
        self.expect("}")
        return stmts

    def parse_stmt(self):
        kind, val = self.peek()
        if val == "{":
            return ("block", self.parse_block())
        if val == "print":
            self.next()
            args = []
            if self.peek()[1] not in (";", "}", "") and self.peek()[0] != "semi":
                args.append(self.parse_expr())
                while self.accept(","):
                    args.append(self.parse_expr())
            return ("print", args or [("field", 0)])
        if val == "printf":
            self.next()
            args = [self.parse_expr()]
            while self.accept(","):
                args.append(self.parse_expr())
            return ("printf", args)
        if val == "if":
            self.next()
            self.expect("(")
            cond = self.parse_expr()
            self.expect(")")
            self.skip_semis()
            then = self.parse_stmt()
            other = None
            self.skip_semis()
            if self.peek()[1] == "else":
                self.next()
                self.skip_semis()
                other = self.parse_stmt()
            return ("if", cond, then, other)
        if val == "next":
            self.next()
            return ("next",)
        # assignment or bare expression
        save = self.i
        target = self.parse_postfix_target()
        op = self.peek()[1]
        if target is not None and op in ("=", "+=", "-=", "*=", "/="):
            self.next()
            return ("assign", target, op, self.parse_expr())
        self.i = save
        return ("expr", self.parse_expr())

    def parse_postfix_target(self):
        kind, val = self.peek()
        if kind == "field":
            self.next()
            return ("field_t", self._field_index(val))
        if kind == "name" and val not in _KEYWORDS:
            self.next()
            return ("var_t", val)
        return None

    def _field_index(self, text: str):
        if text == "$":
            raise SyntaxError("awk: bare $ needs an index")
        body = text[1:]
        if body.isdigit():
            return int(body)
        if body.startswith("(") or body == "NF":
            # $NF / $(expr) — only NF supported in target position
            return ("NF",)
        raise SyntaxError(f"awk: unsupported field {text!r}")

    # ---- expressions ----
    def parse_expr(self):
        return self.parse_ternary()

    def parse_ternary(self):
        cond = self.parse_or()
        if self.accept("?"):
            a = self.parse_ternary()
            self.expect(":")
            b = self.parse_ternary()
            return ("ternary", cond, a, b)
        return cond

    def parse_or(self):
        left = self.parse_and()
        while self.accept("||"):
            left = ("or", left, self.parse_and())
        return left

    def parse_and(self):
        left = self.parse_match()
        while self.accept("&&"):
            left = ("and", left, self.parse_match())
        return left

    def parse_match(self):
        left = self.parse_compare()
        while True:
            if self.accept("~"):
                left = ("match", left, self.parse_compare())
            elif self.accept("!~"):
                left = ("nmatch", left, self.parse_compare())
            else:
                return left

    def parse_compare(self):
        left = self.parse_concat()
        for op in ("==", "!=", "<=", ">=", "<", ">"):
            if self.accept(op):
                return ("cmp", op, left, self.parse_concat())
        return left

    _CONCAT_STARTERS = ("number", "string", "name", "field", "regex")

    def parse_concat(self):
        left = self.parse_add()
        while True:
            kind, val = self.peek()
            if kind in self._CONCAT_STARTERS and val not in _KEYWORDS or val == "(":
                left = ("concat", left, self.parse_add())
            else:
                return left

    def parse_add(self):
        left = self.parse_mul()
        while True:
            if self.accept("+"):
                left = ("arith", "+", left, self.parse_mul())
            elif self.accept("-"):
                left = ("arith", "-", left, self.parse_mul())
            else:
                return left

    def parse_mul(self):
        left = self.parse_unary()
        while True:
            if self.accept("*"):
                left = ("arith", "*", left, self.parse_unary())
            elif self.accept("/"):
                left = ("arith", "/", left, self.parse_unary())
            elif self.accept("%"):
                left = ("arith", "%", left, self.parse_unary())
            else:
                return left

    def parse_unary(self):
        if self.accept("-"):
            return ("neg", self.parse_unary())
        if self.accept("!"):
            return ("not", self.parse_unary())
        return self.parse_primary()

    def parse_primary(self):
        kind, val = self.next()
        if kind == "number":
            return ("num", float(val) if "." in val else int(val))
        if kind == "string":
            body = val[1:-1]
            return ("str", re.sub(
                r"\\(.)",
                lambda m: {"n": "\n", "t": "\t", '"': '"', "\\": "\\"}.get(
                    m.group(1), "\\" + m.group(1)
                ),
                body,
            ))
        if kind == "regex":
            return ("regex", val[1:-1].replace("\\/", "/"))
        if kind == "field":
            body = val[1:]
            if body.isdigit():
                return ("field", int(body))
            if body == "NF" or body.startswith("NF"):
                return ("field", ("NF",))
            raise SyntaxError(f"awk: unsupported field {val!r}")
        if kind == "name":
            if self.peek()[1] == "(":
                self.next()
                args = []
                if self.peek()[1] != ")":
                    args.append(self.parse_expr())
                    while self.accept(","):
                        args.append(self.parse_expr())
                self.expect(")")
                return ("call", val, args)
            return ("var", val)
        if val == "(":
            e = self.parse_expr()
            self.expect(")")
            return e
        raise SyntaxError(f"awk: unexpected {val!r}")


class _Next(Exception):
    pass


def _num(v):
    if isinstance(v, (int, float)):
        return v
    try:
        f = float(str(v).strip() or 0)
        return int(f) if f == int(f) else f
    except ValueError:
        return 0


def _s(v) -> str:
    if isinstance(v, float) and v == int(v):
        return str(int(v))
    return str(v)


_NUMERIC_RE = re.compile(r"^\s*-?(\d+\.?\d*|\.\d+)([eE][-+]?\d+)?\s*$")


class AwkProgram:
    def __init__(self, src: str):
        self.items = _Parser(_tokenize(src)).parse_program()

    def run(
        self, text: str, fs: str | None = None,
        meta: dict | None = None,
    ) -> str:
        env: dict = {"FS": fs or " ", "OFS": " ", "NR": 0, "NF": 0}
        out: list[str] = []
        # message context for the reference's json_*/metadata_*
        # functions (awk.adoc): the document parses lazily from the
        # input text; json_set* marks it dirty, and a program that
        # prints nothing emits the modified document (awk.go behavior)
        self._meta = dict(meta or {})
        self._doc = None
        self._json_dirty = False
        self._text = text
        state = {"fields": [""], "env": env, "out": out}
        for pattern, body in self.items:
            if pattern == "BEGIN":
                self._exec_block(body, state)
        records = text.split("\n")
        # RS="\n" semantics: a trailing newline terminates the last
        # record, it does not open a phantom empty one ("a\nb\n" is two
        # records; "" is zero)
        if records and records[-1] == "":
            records.pop()
        for line in records:
            env["NR"] += 1
            self._set_record(state, line)
            for pattern, body in self.items:
                if pattern in ("BEGIN", "END"):
                    continue
                try:
                    if pattern is None or self._truthy(
                        self._eval(pattern[1], state), state
                    ):
                        self._exec_block(body, state)
                except _Next:
                    break
        for pattern, body in self.items:
            if pattern == "END":
                self._exec_block(body, state)
        # print entries carry their own ORS; printf writes raw. One
        # trailing newline is trimmed so print-only programs keep the
        # historical joined-lines contract.
        text_out = "".join(out)
        if text_out:
            return (
                text_out[:-1] if text_out.endswith("\n") else text_out
            )
        if self._json_dirty:
            # no print output: emit the json_set-modified document
            # (the reference's awk processor contract, awk.adoc)
            import json as _json

            return _json.dumps(
                self._doc, sort_keys=True, separators=(",", ":"),
                ensure_ascii=False,
            )
        return text_out

    # ---- machinery ----
    def _set_record(self, state, line: str):
        env = state["env"]
        fs = env.get("FS", " ")
        if fs == " ":
            parts = line.split()
        else:
            parts = line.split(fs)
        state["fields"] = [line] + parts
        env["NF"] = len(parts)

    def _rebuild_record(self, state):
        env = state["env"]
        ofs = env.get("OFS", " ")
        state["fields"][0] = ofs.join(
            _s(f) for f in state["fields"][1:]
        )

    def _field(self, state, idx):
        if idx == ("NF",) or (isinstance(idx, tuple) and idx[0] == "NF"):
            idx = state["env"]["NF"]
        fields = state["fields"]
        return fields[idx] if 0 <= idx < len(fields) else ""

    def _truthy(self, v, state) -> bool:
        if isinstance(v, (int, float)):
            return v != 0
        return str(v) != ""

    def _exec_block(self, stmts, state):
        for st in stmts:
            self._exec(st, state)

    def _exec(self, st, state):
        op = st[0]
        env = state["env"]
        if op == "block":
            self._exec_block(st[1], state)
        elif op == "print":
            vals = [self._eval(a, state) for a in st[1]]
            state["out"].append(
                env.get("OFS", " ").join(_s(v) for v in vals) + "\n"
            )
        elif op == "printf":
            vals = [self._eval(a, state) for a in st[1]]
            fmt = str(vals[0])
            args = tuple(
                _num(v) if re.search(r"%[-0-9.]*[dioxXeEfgG]",
                                     fmt) and isinstance(v, str)
                and _NUMERIC_RE.match(v) else v
                for v in vals[1:]
            )
            state["out"].append(fmt % args if args else fmt)
        elif op == "if":
            if self._truthy(self._eval(st[1], state), state):
                self._exec(st[2], state)
            elif st[3] is not None:
                self._exec(st[3], state)
        elif op == "next":
            raise _Next()
        elif op == "assign":
            target, aop, expr = st[1], st[2], st[3]
            val = self._eval(expr, state)
            if target[0] == "var_t":
                cur = env.get(target[1], "")
                env[target[1]] = (
                    val if aop == "=" else self._arith(aop[0], cur, val)
                )
            else:
                idx = target[1]
                if idx == ("NF",):
                    idx = env["NF"]
                fields = state["fields"]
                while len(fields) <= idx:
                    fields.append("")
                    env["NF"] = max(env["NF"], len(fields) - 1)
                cur = fields[idx]
                fields[idx] = (
                    val if aop == "=" else self._arith(aop[0], cur, val)
                )
                if idx == 0:
                    self._set_record(state, _s(fields[0]))
                else:
                    self._rebuild_record(state)
        elif op == "expr":
            self._eval(st[1], state)
        else:
            raise ValueError(f"awk: unknown statement {op}")

    def _arith(self, op, a, b):
        x, y = _num(a), _num(b)
        if op == "+":
            return x + y
        if op == "-":
            return x - y
        if op == "*":
            return x * y
        if op == "/":
            return x / y
        if op == "%":
            return x % y
        raise ValueError(op)

    def _eval(self, node, state):
        kind = node[0]
        env = state["env"]
        if kind == "num":
            return node[1]
        if kind == "str":
            return node[1]
        if kind == "regex":
            # bare regex = match against $0
            return 1 if re.search(node[1], state["fields"][0]) else 0
        if kind == "field":
            return self._field(state, node[1])
        if kind == "var":
            return env.get(node[1], "")
        if kind == "neg":
            return -_num(self._eval(node[1], state))
        if kind == "not":
            return 0 if self._truthy(self._eval(node[1], state), state) else 1
        if kind == "arith":
            return self._arith(
                node[1], self._eval(node[2], state), self._eval(node[3], state)
            )
        if kind == "concat":
            return _s(self._eval(node[1], state)) + _s(
                self._eval(node[2], state)
            )
        if kind == "cmp":
            a = self._eval(node[2], state)
            b = self._eval(node[3], state)
            if (
                isinstance(a, (int, float)) or _NUMERIC_RE.match(str(a))
            ) and (isinstance(b, (int, float)) or _NUMERIC_RE.match(str(b))):
                a, b = _num(a), _num(b)
            else:
                a, b = _s(a), _s(b)
            op = node[1]
            return 1 if {
                "==": a == b, "!=": a != b, "<": a < b,
                "<=": a <= b, ">": a > b, ">=": a >= b,
            }[op] else 0
        if kind == "and":
            return (
                1
                if self._truthy(self._eval(node[1], state), state)
                and self._truthy(self._eval(node[2], state), state)
                else 0
            )
        if kind == "or":
            return (
                1
                if self._truthy(self._eval(node[1], state), state)
                or self._truthy(self._eval(node[2], state), state)
                else 0
            )
        if kind == "ternary":
            return (
                self._eval(node[2], state)
                if self._truthy(self._eval(node[1], state), state)
                else self._eval(node[3], state)
            )
        if kind in ("match", "nmatch"):
            subject = _s(self._eval(node[1], state))
            pat = node[2]
            pattern = pat[1] if pat[0] == "regex" else _s(
                self._eval(pat, state)
            )
            hit = re.search(pattern, subject) is not None
            return 1 if (hit if kind == "match" else not hit) else 0
        if kind == "call":
            return self._call(node[1], [self._eval(a, state) for a in node[2]])
        raise ValueError(f"awk: unknown expr {kind}")

    def _call(self, name, args):
        if name == "length":
            return len(_s(args[0])) if args else 0
        if name == "substr":
            s = _s(args[0])
            start = int(_num(args[1])) - 1
            if len(args) > 2:
                return s[max(start, 0):max(start, 0) + int(_num(args[2]))]
            return s[max(start, 0):]
        if name == "index":
            return _s(args[0]).find(_s(args[1])) + 1
        if name == "toupper":
            return _s(args[0]).upper()
        if name == "tolower":
            return _s(args[0]).lower()
        if name == "sprintf":
            return str(args[0]) % tuple(args[1:])
        if name == "int":
            return int(_num(args[0]))
        if name in (
            "json_get", "json_set", "json_set_int", "json_set_float",
            "json_set_bool", "json_delete", "json_length",
        ):
            return self._json_fn(name, args)
        if name == "metadata_get":
            v = self._meta.get(_s(args[0]))
            return "" if v is None else v
        if name == "metadata_set":
            self._meta[_s(args[0])] = _s(args[1])
            return ""
        raise ValueError(f"awk: unknown function {name}")

    def _json_fn(self, name, args):
        """The reference awk processor's message-JSON functions
        (awk.adoc json support): dotted paths into the parsed
        document; setters mark the document dirty so the program's
        output is the modified JSON when nothing printed."""
        import json as _json

        if self._doc is None:
            try:
                self._doc = _json.loads(self._text)
            except Exception:  # noqa: BLE001 — non-JSON message
                self._doc = {}
        path = _s(args[0]).split(".")
        if name == "json_get":
            cur = self._doc
            for part in path:
                if isinstance(cur, list):
                    try:
                        cur = cur[int(part)]
                        continue
                    except (ValueError, IndexError):
                        return "null"
                if not isinstance(cur, dict) or part not in cur:
                    return "null"
                cur = cur[part]
            if isinstance(cur, (dict, list)):
                return _json.dumps(
                    cur, sort_keys=True, separators=(",", ":"))
            if cur is None:
                return "null"
            if isinstance(cur, bool):
                return "true" if cur else "false"
            return cur
        if name == "json_length":
            cur = self._doc
            for part in path:
                if not isinstance(cur, dict) or part not in cur:
                    return 0
                cur = cur[part]
            try:
                return len(cur)
            except TypeError:
                return 0
        # setters / delete navigate creating objects
        cur = self._doc if isinstance(self._doc, dict) else {}
        self._doc = cur
        for part in path[:-1]:
            nxt = cur.get(part)
            if not isinstance(nxt, dict):
                nxt = {}
                cur[part] = nxt
            cur = nxt
        leaf = path[-1]
        self._json_dirty = True
        if name == "json_delete":
            cur.pop(leaf, None)
            return ""
        v = args[1]
        if name == "json_set_int":
            cur[leaf] = int(_num(v))
        elif name == "json_set_float":
            cur[leaf] = _num(v)
        elif name == "json_set_bool":
            cur[leaf] = bool(self._truthy_val(v))
        else:  # json_set
            cur[leaf] = _s(v)
        return ""

    @staticmethod
    def _truthy_val(v):
        if isinstance(v, str):
            return v not in ("", "0")
        return bool(v)


def run_awk(program: str, text: str, fs: str | None = None) -> str:
    return AwkProgram(program).run(text, fs=fs)


def awk_udf(program: str, fs: str | None = None):
    """(content, meta) → awk(program, content); Arrow-batched. The
    program is parsed once, on the driver, rows stream through the
    interpreter; metadata feeds the reference's metadata_get()."""
    from pyspark.sql import functions as F

    prog = AwkProgram(program)
    udf = row_udf(
        "string",
        lambda x, mm: prog.run(
            x, fs=fs, meta=mm if isinstance(mm, dict) else {}
        ),
    )
    # a null metadata map reads as an empty one
    no_meta = F.create_map().cast("map<string,string>")
    return lambda content, meta: udf(content, F.coalesce(meta, no_meta))


def awk_process(df, program: str, col: str = "content", fs: str | None = None) -> "Column":
    from pyspark.sql import functions as F

    meta = (
        F.col("_meta") if "_meta" in df.columns
        else F.lit(None).cast("map<string,string>")
    )
    return df.withColumn(
        col, awk_udf(program, fs)(F.col(col).cast("string"), meta)
    )
