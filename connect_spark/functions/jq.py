"""`jq` processor: a jq-filter interpreter for the dynamic subset the
Bloblang static-path compiler can't express.

Reference: the jq processor (docs/modules/components/pages/processors/
jq.adoc — gojq over each message). Implemented surface:

- identity ``.``, field paths ``.a.b``, optional ``.a?``, index
  ``.a[0]`` (negative ok), slices ``.a[1:3]``, iteration ``.a[]``
- pipe ``|``, comma ``,`` (multiple outputs — a message can expand)
- ``select(f)``, ``map(f)``, ``has("k")``, ``length``, ``keys``,
  ``add``, ``tostring``, ``tonumber``, ``type``, ``not``, ``empty``
- object ``{a: .b, "c d": .e, f}`` and array ``[f1, f2]`` construction
- literals (numbers, strings, true/false/null), arithmetic ``+ - * /
  %`` (jq semantics: + concatenates strings/arrays, merges objects),
  comparisons, ``and`` / ``or``
- alternative operator ``//``

Evaluation is per message in an Arrow-batched `row_udf`; a filter can
emit 0..n outputs, so the UDF returns ``array<string>`` and the
pipeline processor explodes it (batch expansion, exactly the
reference's behavior).
"""

from __future__ import annotations

import json
import re

from connect_spark.boundary import row_udf

_TOK = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<number>-?\d+(\.\d+)?)
  | (?P<string>"(?:[^"\\]|\\.)*")
  | (?P<name>[A-Za-z_][A-Za-z_0-9]*)
  | (?P<op>\.\.|//|\|=|==|!=|<=|>=|\?//|[.\[\]{}(),:|?<>+\-*/%])
    """,
    re.VERBOSE,
)


def _tokenize(src: str):
    toks = []
    i = 0
    while i < len(src):
        m = _TOK.match(src, i)
        if not m:
            raise SyntaxError(f"jq: bad token at {src[i:i+20]!r}")
        if m.lastgroup != "ws":
            kind, text = m.lastgroup, m.group()
            # `-` after a value ends an expression: `.a-1`/`length-1`
            # is subtraction, not a negative literal (real jq lexes the
            # minus as an operator in value position)
            if (
                kind == "number"
                and text.startswith("-")
                and toks
                and (
                    toks[-1][0] in ("number", "string", "name")
                    or toks[-1][1] in ("]", ")", "}")
                )
            ):
                toks.append(("op", "-"))
                toks.append(("number", text[1:]))
            else:
                toks.append((kind, text))
        i = m.end()
    return toks


class _P:
    def __init__(self, toks):
        self.t = toks
        self.i = 0

    def peek(self, k=0):
        return self.t[self.i + k] if self.i + k < len(self.t) else ("eof", "")

    def next(self):
        tok = self.peek()
        self.i += 1
        return tok

    def accept(self, v):
        if self.peek()[1] == v:
            self.i += 1
            return True
        return False

    def expect(self, v):
        if not self.accept(v):
            raise SyntaxError(f"jq: expected {v!r} at {self.peek()!r}")

    # pipe level (lowest)
    def parse_pipe(self):
        left = self.parse_comma()
        while self.accept("|"):
            left = ("pipe", left, self.parse_comma())
        return left

    def parse_comma(self):
        parts = [self.parse_alt()]
        while self.accept(","):
            parts.append(self.parse_alt())
        return parts[0] if len(parts) == 1 else ("comma", parts)

    def parse_alt(self):
        left = self.parse_or()
        while self.accept("//"):
            left = ("alt", left, self.parse_or())
        return left

    def parse_or(self):
        left = self.parse_and()
        while self.peek() == ("name", "or"):
            self.next()
            left = ("orop", left, self.parse_and())
        return left

    def parse_and(self):
        left = self.parse_cmp()
        while self.peek() == ("name", "and"):
            self.next()
            left = ("andop", left, self.parse_cmp())
        return left

    def parse_cmp(self):
        left = self.parse_add()
        for op in ("==", "!=", "<=", ">=", "<", ">"):
            if self.accept(op):
                return ("cmp", op, left, self.parse_add())
        return left

    def parse_add(self):
        left = self.parse_mul()
        while True:
            if self.accept("+"):
                left = ("add", left, self.parse_mul())
            elif self.accept("-"):
                left = ("sub", left, self.parse_mul())
            else:
                return left

    def parse_mul(self):
        left = self.parse_postfix()
        while True:
            if self.accept("*"):
                left = ("mul", left, self.parse_postfix())
            elif self.accept("/"):
                left = ("div", left, self.parse_postfix())
            elif self.accept("%"):
                left = ("mod", left, self.parse_postfix())
            else:
                return left

    def parse_postfix(self):
        node = self.parse_primary()
        while True:
            if self.peek()[1] == "." and self.peek(1)[0] == "name":
                self.next()
                node = ("field", node, self.next()[1], self.accept("?"))
            elif self.accept("["):
                if self.accept("]"):
                    node = ("iterate", node)
                else:
                    first = None
                    if self.peek()[1] != ":":
                        first = self.parse_pipe()
                    if self.accept(":"):
                        second = None
                        if self.peek()[1] != "]":
                            second = self.parse_pipe()
                        self.expect("]")
                        node = ("slice", node, first, second)
                    else:
                        self.expect("]")
                        node = ("index", node, first)
            elif self.accept("?"):
                node = ("try", node)
            else:
                return node

    def parse_primary(self):
        kind, v = self.peek()
        if v == ".":
            self.next()
            if self.peek()[0] == "name":
                name = self.next()[1]
                return ("field", ("identity",), name, self.accept("?"))
            return ("identity",)
        if kind == "number":
            self.next()
            return ("lit", float(v) if "." in v else int(v))
        if kind == "string":
            self.next()
            return ("lit", json.loads(v))
        if v == "(":
            self.next()
            e = self.parse_pipe()
            self.expect(")")
            return e
        if v == "[":
            self.next()
            if self.accept("]"):
                return ("arr", None)
            e = self.parse_pipe()
            self.expect("]")
            return ("arr", e)
        if v == "{":
            self.next()
            pairs = []
            if not self.accept("}"):
                while True:
                    k_kind, k_val = self.next()
                    if k_kind == "string":
                        key = json.loads(k_val)
                    elif k_kind == "name":
                        key = k_val
                    else:
                        raise SyntaxError(f"jq: bad object key {k_val!r}")
                    if self.accept(":"):
                        val = self.parse_alt()
                    else:
                        val = ("field", ("identity",), key, False)
                    pairs.append((key, val))
                    if not self.accept(","):
                        break
                self.expect("}")
            return ("obj", pairs)
        if kind == "name":
            self.next()
            if v in ("true", "false"):
                return ("lit", v == "true")
            if v == "null":
                return ("lit", None)
            if v == "empty":
                return ("empty",)
            if v == "not":
                return ("not",)
            if self.accept("("):
                arg = self.parse_pipe()
                self.expect(")")
                return ("call1", v, arg)
            return ("call0", v)
        raise SyntaxError(f"jq: unexpected {v!r}")


def _parse(src: str):
    p = _P(_tokenize(src))
    node = p.parse_pipe()
    if p.peek()[0] != "eof":
        raise SyntaxError(f"jq: trailing input {p.peek()!r}")
    return node


class _JqError(Exception):
    pass


def _eval(node, value):
    """Yield each output of `node` applied to `value`."""
    k = node[0]
    if k == "identity":
        yield value
    elif k == "lit":
        yield node[1]
    elif k == "empty":
        return
    elif k == "pipe":
        for mid in _eval(node[1], value):
            yield from _eval(node[2], mid)
    elif k == "comma":
        for part in node[1]:
            yield from _eval(part, value)
    elif k == "field":
        for base in _eval(node[1], value):
            if base is None:
                yield None
            elif isinstance(base, dict):
                yield base.get(node[2])
            elif node[3]:  # optional
                continue
            else:
                raise _JqError(f"cannot index {type(base).__name__} with key")
    elif k == "try":
        try:
            yield from list(_eval(node[1], value))
        except _JqError:
            return
    elif k == "index":
        for base in _eval(node[1], value):
            for idx in _eval(node[2], value):
                if base is None:
                    yield None
                elif isinstance(base, list) and isinstance(idx, int):
                    yield base[idx] if -len(base) <= idx < len(base) else None
                elif isinstance(base, dict):
                    yield base.get(idx)
                else:
                    raise _JqError("bad index")
    elif k == "slice":
        for base in _eval(node[1], value):
            lo = next(_eval(node[2], value)) if node[2] else None
            hi = next(_eval(node[3], value)) if node[3] else None
            yield base[lo:hi]
    elif k == "iterate":
        for base in _eval(node[1], value):
            if isinstance(base, list):
                yield from base
            elif isinstance(base, dict):
                yield from base.values()
            else:
                raise _JqError(f"cannot iterate {type(base).__name__}")
    elif k == "arr":
        if node[1] is None:
            yield []
        else:
            yield list(_eval(node[1], value))
    elif k == "obj":
        yield {key: next(_eval(v, value), None) for key, v in node[1]}
    elif k in ("add", "sub", "mul", "div", "mod"):
        for a in _eval(node[1], value):
            for b in _eval(node[2], value):
                yield _arith(k, a, b)
    elif k == "cmp":
        for a in _eval(node[2], value):
            for b in _eval(node[3], value):
                yield _cmp(node[1], a, b)
    elif k == "andop":
        for a in _eval(node[1], value):
            for b in _eval(node[2], value):
                yield _truthy(a) and _truthy(b)
    elif k == "orop":
        for a in _eval(node[1], value):
            for b in _eval(node[2], value):
                yield _truthy(a) or _truthy(b)
    elif k == "alt":
        outs = [
            o for o in _try_list(node[1], value) if o is not None and o is not False
        ]
        if outs:
            yield from outs
        else:
            yield from _eval(node[2], value)
    elif k == "not":
        yield not _truthy(value)
    elif k == "call0":
        yield from _builtin0(node[1], value)
    elif k == "call1":
        yield from _builtin1(node[1], node[2], value)
    else:
        raise _JqError(f"jq: unknown node {k}")


def _try_list(node, value):
    try:
        return list(_eval(node, value))
    except _JqError:
        return []


def _truthy(v) -> bool:
    return v is not None and v is not False


def _arith(op, a, b):
    if op == "add":
        if a is None:
            return b
        if b is None:
            return a
        if isinstance(a, dict) and isinstance(b, dict):
            return {**a, **b}
        if isinstance(a, list) and isinstance(b, list):
            return a + b
        if isinstance(a, str) and isinstance(b, str):
            return a + b
        return a + b
    if a is None or b is None:
        raise _JqError("null arithmetic")
    if op == "sub":
        if isinstance(a, list) and isinstance(b, list):
            return [x for x in a if x not in b]
        return a - b
    if op == "mul":
        return a * b
    if op == "div":
        if b == 0:
            raise _JqError("division by zero")
        return a / b
    return a % b


_TYPE_ORDER = {type(None): 0, bool: 1, int: 2, float: 2, str: 3, list: 4, dict: 5}


def _cmp(op, a, b):
    if op == "==":
        return a == b
    if op == "!=":
        return a != b
    ta, tb = _TYPE_ORDER[type(a)], _TYPE_ORDER[type(b)]
    if ta != tb:
        key = (ta, 0)
        key2 = (tb, 0)
    else:
        key, key2 = a, b
    lt = key < key2 if ta == tb else ta < tb
    le = lt or a == b
    return {"<": lt, "<=": le, ">": not le, ">=": not lt}[op]


def _builtin0(name, value):
    if name == "length":
        if value is None:
            yield 0
        elif isinstance(value, (list, dict, str)):
            yield len(value)
        else:
            yield abs(value)
    elif name == "keys":
        yield sorted(value.keys()) if isinstance(value, dict) else list(
            range(len(value))
        )
    elif name == "add":
        acc = None
        for item in value or []:
            acc = item if acc is None else _arith("add", acc, item)
        yield acc
    elif name == "tostring":
        yield value if isinstance(value, str) else json.dumps(value)
    elif name == "tonumber":
        yield float(value) if "." in str(value) else int(value)
    elif name == "type":
        yield {
            type(None): "null", bool: "boolean", int: "number",
            float: "number", str: "string", list: "array", dict: "object",
        }[type(value)]
    elif name == "floor":
        import math

        yield math.floor(value)
    else:
        raise _JqError(f"jq: unknown builtin {name}")


def _builtin1(name, arg, value):
    if name == "select":
        for keep in _eval(arg, value):
            if _truthy(keep):
                yield value
    elif name == "map":
        yield [o for item in value for o in _eval(arg, item)]
    elif name == "has":
        for k in _eval(arg, value):
            yield (k in value) if isinstance(value, dict) else (
                isinstance(k, int) and 0 <= k < len(value)
            )
    elif name == "join":
        for sep in _eval(arg, value):
            yield sep.join(
                "" if v is None else v if isinstance(v, str) else json.dumps(v)
                for v in value
            )
    elif name == "del":
        # only static field paths supported: del(.a.b)
        path = _static_path(arg)
        out = json.loads(json.dumps(value))
        cur = out
        for p in path[:-1]:
            cur = cur.get(p, {})
        cur.pop(path[-1], None)
        yield out
    else:
        raise _JqError(f"jq: unknown function {name}")


def _static_path(node):
    parts = []
    while node[0] == "field":
        parts.append(node[2])
        node = node[1]
    if node[0] != "identity":
        raise _JqError("jq: del() needs a static path")
    return list(reversed(parts))


class JqFilter:
    def __init__(self, src: str):
        self.ast = _parse(src)

    def run(self, value):
        return list(_eval(self.ast, value))

    def run_json(self, text: str) -> list[str]:
        return [
            json.dumps(o, sort_keys=True) for o in self.run(json.loads(text))
        ]


def jq_udf(filter_src: str):
    """JSON string column → array<string> of output documents."""
    return row_udf(
        "array<string>",
        JqFilter(filter_src).run_json,
        (_JqError, ValueError, KeyError, TypeError),
    )
