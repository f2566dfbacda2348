"""`javascript` processor: an ES5-subset interpreter, pure Python.

Re-expresses the reference's javascript processor
(internal/impl/javascript/processor.go — a goja VM runs a user script
per message with the `benthos.v0_msg_*` API) without shipping a JS
runtime. The implemented subset is the imperative core that message
scripts actually use:

- statements: ``var/let/const``, assignment (incl. ``+= -= *= /=``),
  ``if/else``, ``while``, classic ``for``, ``for (var k in obj)``,
  ``function`` declarations and expressions (closures), ``return``,
  blocks
- expressions: arithmetic with JS coercion (``+`` concatenates when
  either side is a string), comparisons (``=== !== == != < <= > >=``),
  ``&& || !`` (JS truthiness: '' / 0 / null / undefined are falsy),
  ternary, member/index access, calls, object & array literals,
  ``typeof``
- builtins: ``JSON.parse/stringify``, ``Math.floor/ceil/abs/max/min/
  round``, ``Object.keys``, ``String()``, ``Number()``, ``parseInt/
  parseFloat``, string methods (toUpperCase, toLowerCase, split, trim,
  replace, indexOf, substring, slice, charAt, length), array methods
  (push, pop, join, indexOf, slice, concat, length), ``Array.isArray``
- the message API: ``benthos.v0_msg_as_string()``,
  ``v0_msg_set_string(s)``, ``v0_msg_as_structured()``,
  ``v0_msg_set_structured(obj)``, ``v0_msg_get_meta(k)``,
  ``v0_msg_set_meta(k, v)`` — matching the reference's surface.

Execution is per message in an Arrow-batched pandas UDF (the same
engine slot awk/subprocess use); the script parses once per executor.
"""

from __future__ import annotations

import json
import math
import re

from connect_spark.boundary import row_udf

_TOKEN = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<comment>//[^\n]*|/\*.*?\*/)
  | (?P<number>\d+(\.\d+)?([eE][-+]?\d+)?)
  | (?P<string>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
  | (?P<name>[A-Za-z_$][A-Za-z_0-9$]*)
  | (?P<op>===|!==|==|!=|<=|>=|&&|\|\||\+=|-=|\*=|/=|\+\+|--|[-+*/%<>=!?:;,.{}()\[\]])
    """,
    re.VERBOSE | re.DOTALL,
)

_KEYWORDS = {
    "var", "let", "const", "function", "return", "if", "else", "while",
    "for", "in", "true", "false", "null", "undefined", "typeof", "new",
    "break", "continue",
}


class JsError(Exception):
    pass


def _tokenize(src: str):
    toks, i = [], 0
    while i < len(src):
        m = _TOKEN.match(src, i)
        if not m:
            raise JsError(f"js: bad token at {src[i:i+20]!r}")
        if m.lastgroup not in ("ws", "comment"):
            toks.append((m.lastgroup, m.group()))
        i = m.end()
    return toks


class _Undefined:
    _inst = None

    def __new__(cls):
        if cls._inst is None:
            cls._inst = super().__new__(cls)
        return cls._inst

    def __repr__(self):
        return "undefined"


UNDEF = _Undefined()


class _P:
    def __init__(self, toks):
        self.t = toks
        self.i = 0

    def peek(self, k=0):
        j = self.i + k
        return self.t[j] if j < len(self.t) else ("eof", "")

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def accept(self, v):
        if self.peek()[1] == v:
            self.i += 1
            return True
        return False

    def expect(self, v):
        if not self.accept(v):
            raise JsError(f"js: expected {v!r}, got {self.peek()!r}")

    def parse_program(self):
        stmts = []
        while self.peek()[0] != "eof":
            stmts.append(self.parse_stmt())
        return ("block", stmts)

    def parse_block(self):
        self.expect("{")
        stmts = []
        while self.peek()[1] != "}":
            stmts.append(self.parse_stmt())
        self.expect("}")
        return ("block", stmts)

    def parse_stmt(self):
        kind, v = self.peek()
        if v == "{":
            return self.parse_block()
        if v in (";",):
            self.next()
            return ("empty",)
        if v in ("var", "let", "const"):
            self.next()
            decls = []
            while True:
                name = self.next()[1]
                init = ("lit", UNDEF)
                if self.accept("="):
                    init = self.parse_assign()
                decls.append((name, init))
                if not self.accept(","):
                    break
            self.accept(";")
            return ("decl", decls)
        if v == "function":
            self.next()
            name = self.next()[1]
            params, body = self._fn_tail()
            return ("fndecl", name, params, body)
        if v == "return":
            self.next()
            if self.peek()[1] in (";", "}") or self.peek()[0] == "eof":
                self.accept(";")
                return ("return", ("lit", UNDEF))
            e = self.parse_expr()
            self.accept(";")
            return ("return", e)
        if v == "if":
            self.next()
            self.expect("(")
            cond = self.parse_expr()
            self.expect(")")
            then = self.parse_stmt()
            other = None
            if self.peek()[1] == "else":
                self.next()
                other = self.parse_stmt()
            return ("if", cond, then, other)
        if v == "while":
            self.next()
            self.expect("(")
            cond = self.parse_expr()
            self.expect(")")
            return ("while", cond, self.parse_stmt())
        if v == "for":
            self.next()
            self.expect("(")
            # for (var k in obj) | for (init; cond; step)
            save = self.i
            if self.peek()[1] in ("var", "let", "const") and self.peek(2)[1] == "in":
                self.next()
                name = self.next()[1]
                self.expect("in")
                obj = self.parse_expr()
                self.expect(")")
                return ("forin", name, obj, self.parse_stmt())
            self.i = save
            init = ("empty",) if self.peek()[1] == ";" else self.parse_stmt()
            if not init[0] == "decl":
                pass
            if self.peek()[1] == ";":
                self.next()
            cond = ("lit", True) if self.peek()[1] == ";" else self.parse_expr()
            self.expect(";")
            step = ("empty",) if self.peek()[1] == ")" else ("expr", self.parse_expr())
            self.expect(")")
            return ("for", init, cond, step, self.parse_stmt())
        if v in ("break", "continue"):
            self.next()
            self.accept(";")
            return (v,)
        e = self.parse_expr()
        self.accept(";")
        return ("expr", e)

    def _fn_tail(self):
        self.expect("(")
        params = []
        if self.peek()[1] != ")":
            params.append(self.next()[1])
            while self.accept(","):
                params.append(self.next()[1])
        self.expect(")")
        body = self.parse_block()
        return params, body

    # expressions
    def parse_expr(self):
        e = self.parse_assign()
        while self.accept(","):
            e = ("seq", e, self.parse_assign())
        return e

    def parse_assign(self):
        left = self.parse_ternary()
        for op in ("=", "+=", "-=", "*=", "/="):
            if self.peek()[1] == op and self.peek()[0] == "op":
                self.next()
                if left[0] not in ("var", "member", "index"):
                    raise JsError("js: bad assignment target")
                return ("assign", op, left, self.parse_assign())
        return left

    def parse_ternary(self):
        c = self.parse_or()
        if self.accept("?"):
            a = self.parse_assign()
            self.expect(":")
            b = self.parse_assign()
            return ("ternary", c, a, b)
        return c

    def parse_or(self):
        left = self.parse_and()
        while self.accept("||"):
            left = ("or", left, self.parse_and())
        return left

    def parse_and(self):
        left = self.parse_eq()
        while self.accept("&&"):
            left = ("and", left, self.parse_eq())
        return left

    def parse_eq(self):
        left = self.parse_rel()
        while True:
            for op in ("===", "!==", "==", "!="):
                if self.accept(op):
                    left = ("eq", op, left, self.parse_rel())
                    break
            else:
                return left

    def parse_rel(self):
        left = self.parse_add()
        while True:
            for op in ("<=", ">=", "<", ">"):
                if self.accept(op):
                    left = ("rel", op, left, self.parse_add())
                    break
            else:
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
        left = self.parse_unary()
        while True:
            if self.accept("*"):
                left = ("mul", left, self.parse_unary())
            elif self.accept("/"):
                left = ("div", left, self.parse_unary())
            elif self.accept("%"):
                left = ("mod", left, self.parse_unary())
            else:
                return left

    def parse_unary(self):
        if self.accept("!"):
            return ("not", self.parse_unary())
        if self.accept("-"):
            return ("neg", self.parse_unary())
        if self.accept("+"):
            return ("plus", self.parse_unary())
        if self.peek()[1] == "typeof":
            self.next()
            return ("typeof", self.parse_unary())
        return self.parse_postfix()

    def parse_postfix(self):
        e = self.parse_primary()
        while True:
            if self.accept("."):
                e = ("member", e, self.next()[1])
            elif self.accept("["):
                idx = self.parse_expr()
                self.expect("]")
                e = ("index", e, idx)
            elif self.accept("("):
                args = []
                if self.peek()[1] != ")":
                    args.append(self.parse_assign())
                    while self.accept(","):
                        args.append(self.parse_assign())
                self.expect(")")
                e = ("call", e, args)
            elif self.peek()[1] in ("++", "--"):
                op = self.next()[1]
                e = ("postincr", op, e)
            else:
                return e

    def parse_primary(self):
        kind, v = self.next()
        if kind == "number":
            f = float(v)
            return ("lit", int(f) if f.is_integer() and "e" not in v.lower() else f)
        if kind == "string":
            body = v[1:-1]
            return ("lit", re.sub(
                r"\\(.)",
                lambda m: {"n": "\n", "t": "\t", "r": "\r", '"': '"',
                           "'": "'", "\\": "\\"}.get(m.group(1),
                                                     m.group(1)),
                body,
            ))
        if v == "(":
            e = self.parse_expr()
            self.expect(")")
            return e
        if v == "[":
            items = []
            if self.peek()[1] != "]":
                items.append(self.parse_assign())
                while self.accept(","):
                    items.append(self.parse_assign())
            self.expect("]")
            return ("array", items)
        if v == "{":
            pairs = []
            if self.peek()[1] != "}":
                while True:
                    k_kind, key = self.next()
                    if k_kind == "string":
                        key = key[1:-1]
                    self.expect(":")
                    pairs.append((key, self.parse_assign()))
                    if not self.accept(","):
                        break
            self.expect("}")
            return ("object", pairs)
        if v == "function":
            params, body = self._fn_tail()
            return ("fnexpr", params, body)
        if v == "true":
            return ("lit", True)
        if v == "false":
            return ("lit", False)
        if v == "null":
            return ("lit", None)
        if v == "undefined":
            return ("lit", UNDEF)
        if kind == "name":
            return ("var", v)
        raise JsError(f"js: unexpected {v!r}")


# ------------------------------------------------------------ runtime


class _Return(Exception):
    def __init__(self, value):
        self.value = value


class _Break(Exception):
    pass


class _Continue(Exception):
    pass


class Env:
    def __init__(self, parent=None):
        self.vars: dict = {}
        self.parent = parent

    def get(self, name):
        e = self
        while e is not None:
            if name in e.vars:
                return e.vars[name]
            e = e.parent
        raise JsError(f"js: {name} is not defined")

    def set(self, name, value):
        e = self
        while e is not None:
            if name in e.vars:
                e.vars[name] = value
                return
            e = e.parent
        # implicit global (sloppy mode)
        root = self
        while root.parent is not None:
            root = root.parent
        root.vars[name] = value

    def declare(self, name, value):
        self.vars[name] = value


class JsFunction:
    def __init__(self, params, body, env):
        self.params = params
        self.body = body
        self.env = env


def _truthy(v) -> bool:
    if v is UNDEF or v is None or v is False:
        return False
    if v == 0 or v == "":
        return False
    return True


def _js_str(v) -> str:
    if v is UNDEF:
        return "undefined"
    if v is None:
        return "null"
    if v is True:
        return "true"
    if v is False:
        return "false"
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    if isinstance(v, (dict, list)):
        return json.dumps(v)
    return str(v)


def _js_num(v):
    if isinstance(v, bool):
        return 1 if v else 0
    if isinstance(v, (int, float)):
        return v
    if v is None:
        return 0
    try:
        f = float(str(v).strip() or "0")
        return int(f) if f.is_integer() else f
    except ValueError:
        return float("nan")


class Interp:
    def __init__(self, program_src: str):
        self.ast = _P(_tokenize(program_src)).parse_program()

    def run(self, globals_: dict):
        env = Env()
        for k, v in globals_.items():
            env.declare(k, v)
        self._exec(self.ast, env)
        return env

    # --- statements ---
    def _exec(self, node, env):
        op = node[0]
        if op == "block":
            for st in node[1]:
                self._exec(st, env)
        elif op == "empty":
            pass
        elif op == "decl":
            for name, init in node[1]:
                env.declare(name, self._eval(init, env))
        elif op == "fndecl":
            env.declare(node[1], JsFunction(node[2], node[3], env))
        elif op == "expr":
            self._eval(node[1], env)
        elif op == "return":
            raise _Return(self._eval(node[1], env))
        elif op == "if":
            if _truthy(self._eval(node[1], env)):
                self._exec(node[2], env)
            elif node[3] is not None:
                self._exec(node[3], env)
        elif op == "while":
            while _truthy(self._eval(node[1], env)):
                try:
                    self._exec(node[2], env)
                except _Break:
                    break
                except _Continue:
                    continue
        elif op == "for":
            inner = Env(env)
            self._exec(node[1], inner)
            while _truthy(self._eval(node[2], inner)):
                try:
                    self._exec(node[4], inner)
                except _Break:
                    break
                except _Continue:
                    pass
                self._exec(node[3], inner)
        elif op == "forin":
            obj = self._eval(node[2], env)
            keys = (
                list(obj.keys()) if isinstance(obj, dict)
                else [str(i) for i in range(len(obj))]
            )
            inner = Env(env)
            inner.declare(node[1], UNDEF)
            for k in keys:
                inner.vars[node[1]] = k
                try:
                    self._exec(node[3], inner)
                except _Break:
                    break
                except _Continue:
                    continue
        elif op == "break":
            raise _Break()
        elif op == "continue":
            raise _Continue()
        else:
            raise JsError(f"js: unknown statement {op}")

    # --- expressions ---
    def _eval(self, node, env):
        op = node[0]
        if op == "lit":
            return node[1]
        if op == "var":
            return env.get(node[1])
        if op == "seq":
            self._eval(node[1], env)
            return self._eval(node[2], env)
        if op == "array":
            return [self._eval(e, env) for e in node[1]]
        if op == "object":
            return {k: self._eval(e, env) for k, e in node[1]}
        if op == "fnexpr":
            return JsFunction(node[1], node[2], env)
        if op == "assign":
            return self._assign(node, env)
        if op == "ternary":
            return (
                self._eval(node[2], env)
                if _truthy(self._eval(node[1], env))
                else self._eval(node[3], env)
            )
        if op == "or":
            left = self._eval(node[1], env)
            return left if _truthy(left) else self._eval(node[2], env)
        if op == "and":
            left = self._eval(node[1], env)
            return self._eval(node[2], env) if _truthy(left) else left
        if op == "not":
            return not _truthy(self._eval(node[1], env))
        if op == "neg":
            return -_js_num(self._eval(node[1], env))
        if op == "plus":
            return _js_num(self._eval(node[1], env))
        if op == "typeof":
            try:
                v = self._eval(node[1], env)
            except JsError:
                return "undefined"
            if v is UNDEF:
                return "undefined"
            if v is None:
                return "object"
            if isinstance(v, bool):
                return "boolean"
            if isinstance(v, (int, float)):
                return "number"
            if isinstance(v, str):
                return "string"
            if isinstance(v, JsFunction) or callable(v):
                return "function"
            return "object"
        if op == "add":
            a = self._eval(node[1], env)
            b = self._eval(node[2], env)
            if isinstance(a, str) or isinstance(b, str):
                return _js_str(a) + _js_str(b)
            return _js_num(a) + _js_num(b)
        if op in ("sub", "mul", "div", "mod"):
            a = _js_num(self._eval(node[1], env))
            b = _js_num(self._eval(node[2], env))
            if op == "sub":
                return a - b
            if op == "mul":
                return a * b
            if op == "div":
                return a / b if b != 0 else float("inf")
            return a % b
        if op == "eq":
            a = self._eval(node[2], env)
            b = self._eval(node[3], env)
            if node[1] in ("===", "!=="):
                # int and float are both the JS number type: 1 === 1.0
                # (JSON.parse yields Python int for whole numbers).
                # bool is NOT a number here (JS typeof true is boolean).
                if (
                    isinstance(a, (int, float))
                    and isinstance(b, (int, float))
                    and not isinstance(a, bool)
                    and not isinstance(b, bool)
                ):
                    same = a == b
                else:
                    same = (type(a) is type(b) and a == b) or (a is b)
                return same if node[1] == "===" else not same
            # loose equality: null == undefined is true in JS
            if (a is None or a is UNDEF) and (b is None or b is UNDEF):
                eq = True
            else:
                eq = a == b or _js_str(a) == _js_str(b)
            return eq if node[1] == "==" else not eq
        if op == "rel":
            a = self._eval(node[2], env)
            b = self._eval(node[3], env)
            if isinstance(a, str) and isinstance(b, str):
                pass
            else:
                a, b = _js_num(a), _js_num(b)
            return {"<": a < b, "<=": a <= b, ">": a > b, ">=": a >= b}[
                node[1]
            ]
        if op == "member":
            return self._member(self._eval(node[1], env), node[2])
        if op == "index":
            obj = self._eval(node[1], env)
            idx = self._eval(node[2], env)
            if isinstance(obj, list):
                i = int(_js_num(idx))
                return obj[i] if 0 <= i < len(obj) else UNDEF
            if isinstance(obj, dict):
                return obj.get(_js_str(idx), UNDEF)
            if isinstance(obj, str):
                i = int(_js_num(idx))
                return obj[i] if 0 <= i < len(obj) else UNDEF
            return UNDEF
        if op == "postincr":
            target = node[2]
            cur = _js_num(self._eval(target, env))
            new = cur + 1 if node[1] == "++" else cur - 1
            self._store(target, new, env)
            return cur
        if op == "call":
            return self._call(node, env)
        raise JsError(f"js: unknown expr {op}")

    def _assign(self, node, env):
        _, op, target, rhs = node
        val = self._eval(rhs, env)
        if op != "=":
            cur = self._eval(target, env)
            if op == "+=":
                if isinstance(cur, str) or isinstance(val, str):
                    val = _js_str(cur) + _js_str(val)
                else:
                    val = _js_num(cur) + _js_num(val)
            elif op == "-=":
                val = _js_num(cur) - _js_num(val)
            elif op == "*=":
                val = _js_num(cur) * _js_num(val)
            elif op == "/=":
                val = _js_num(cur) / _js_num(val)
        self._store(target, val, env)
        return val

    def _store(self, target, val, env):
        if target[0] == "var":
            env.set(target[1], val)
        elif target[0] == "member":
            obj = self._eval(target[1], env)
            obj[target[2]] = val
        elif target[0] == "index":
            obj = self._eval(target[1], env)
            idx = self._eval(target[2], env)
            if isinstance(obj, list):
                i = int(_js_num(idx))
                while len(obj) <= i:
                    obj.append(UNDEF)
                obj[i] = val
            else:
                obj[_js_str(idx)] = val
        else:
            raise JsError("js: bad assignment target")

    def _member(self, obj, name):
        # host member dispatch for builtins and data values
        if isinstance(obj, dict):
            if name in obj:
                return obj[name]
            return UNDEF
        if isinstance(obj, str):
            return _string_member(obj, name)
        if isinstance(obj, list):
            return _array_member(obj, name)
        raise JsError(f"js: cannot read {name!r} of {_js_str(obj)}")

    def _call(self, node, env):
        callee = node[1]
        args = [self._eval(a, env) for a in node[2]]
        fn = self._eval(callee, env)
        return self.invoke(fn, args)

    def invoke(self, fn, args):
        if isinstance(fn, JsFunction):
            local = Env(fn.env)
            for i, p in enumerate(fn.params):
                local.declare(p, args[i] if i < len(args) else UNDEF)
            try:
                self._exec(fn.body, local)
            except _Return as r:
                return r.value
            return UNDEF
        if callable(fn):
            return fn(*args)
        raise JsError(f"js: {_js_str(fn)} is not a function")


def _string_member(s: str, name: str):
    table = {
        "length": len(s),
        "toUpperCase": lambda: s.upper(),
        "toLowerCase": lambda: s.lower(),
        "trim": lambda: s.strip(),
        "split": lambda sep=UNDEF: list(s) if sep is UNDEF else s.split(sep),
        "indexOf": lambda sub: s.find(_js_str(sub)),
        "replace": lambda a, b: s.replace(_js_str(a), _js_str(b), 1),
        "substring": lambda a, b=None: s[int(a):int(b) if b is not None else None],
        "slice": lambda a, b=None: s[int(a):int(b) if b is not None else None],
        "charAt": lambda i: s[int(i)] if 0 <= int(i) < len(s) else "",
        "startsWith": lambda p: s.startswith(_js_str(p)),
        "endsWith": lambda p: s.endswith(_js_str(p)),
        "includes": lambda p: _js_str(p) in s,
    }
    if name not in table:
        raise JsError(f"js: string has no method {name}")
    return table[name]


def _array_member(a: list, name: str):
    table = {
        "length": len(a),
        "push": lambda *xs: (a.extend(xs), len(a))[1],
        "pop": lambda: a.pop() if a else UNDEF,
        "join": lambda sep=",": _js_str(sep).join(_js_str(x) for x in a),
        "indexOf": lambda x: a.index(x) if x in a else -1,
        "slice": lambda i=0, j=None: a[int(i):int(j) if j is not None else None],
        "concat": lambda *xs: a + [x for item in xs for x in (item if isinstance(item, list) else [item])],
        "includes": lambda x: x in a,
        "reverse": lambda: (a.reverse(), a)[1],
    }
    if name not in table:
        raise JsError(f"js: array has no method {name}")
    return table[name]


def _std_globals():
    return {
        "JSON": {
            "parse": lambda s: json.loads(s),
            "stringify": lambda v, *a: json.dumps(_plain(v)),
        },
        "Math": {
            "floor": lambda x: math.floor(_js_num(x)),
            "ceil": lambda x: math.ceil(_js_num(x)),
            "round": lambda x: math.floor(_js_num(x) + 0.5),
            "abs": lambda x: abs(_js_num(x)),
            "max": lambda *xs: max(_js_num(x) for x in xs),
            "min": lambda *xs: min(_js_num(x) for x in xs),
            "pow": lambda a, b: _js_num(a) ** _js_num(b),
            "sqrt": lambda x: math.sqrt(_js_num(x)),
        },
        "Object": {"keys": lambda o: list(o.keys())},
        "Array": {"isArray": lambda v: isinstance(v, list)},
        "String": lambda v="": _js_str(v),
        "Number": lambda v=0: _js_num(v),
        "parseInt": lambda s, base=10: int(str(s).strip(), int(base)),
        "parseFloat": lambda s: float(str(s).strip()),
        "console": {"log": lambda *a: None},
    }


def _plain(v):
    if v is UNDEF:
        return None
    if isinstance(v, list):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    return v


def run_js(code: str, content: str, meta: dict | None = None) -> tuple[str, dict]:
    """Run a script against one message; returns (content, meta) after
    mutation through the benthos.v0_msg_* API."""
    state = {"content": content, "meta": dict(meta or {})}

    def as_structured():
        return json.loads(state["content"])

    benthos = {
        "v0_msg_as_string": lambda: state["content"],
        "v0_msg_set_string": lambda s: state.__setitem__(
            "content", _js_str(s)
        ),
        "v0_msg_as_structured": as_structured,
        "v0_msg_set_structured": lambda v: state.__setitem__(
            "content", json.dumps(_plain(v), sort_keys=True)
        ),
        "v0_msg_get_meta": lambda k: state["meta"].get(_js_str(k), UNDEF),
        "v0_msg_set_meta": lambda k, v: state["meta"].__setitem__(
            _js_str(k), _js_str(v)
        ),
    }
    interp = Interp(code)
    interp.run({**_std_globals(), "benthos": benthos})
    return state["content"], state["meta"]


def javascript_udf(code: str):
    """content → script-transformed content (Arrow-batched; the script
    parses once, on the driver)."""
    interp = Interp(code)

    def one(content):
        state = {"content": content, "meta": {}}
        benthos = {
            "v0_msg_as_string": lambda: state["content"],
            "v0_msg_set_string": lambda x: state.__setitem__(
                "content", _js_str(x)
            ),
            "v0_msg_as_structured": lambda: json.loads(state["content"]),
            "v0_msg_set_structured": lambda v: state.__setitem__(
                "content", json.dumps(_plain(v), sort_keys=True)
            ),
            "v0_msg_get_meta": lambda k: state["meta"].get(
                _js_str(k), UNDEF
            ),
            "v0_msg_set_meta": lambda k, v: state["meta"].__setitem__(
                _js_str(k), _js_str(v)
            ),
        }
        interp.run({**_std_globals(), "benthos": benthos})
        return state["content"]

    return row_udf("string", one)
