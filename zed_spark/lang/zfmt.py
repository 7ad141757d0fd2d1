"""Canonical zed pretty-printers — the reference's zfmt domain.

`super dev compile -C` parses a query and prints the AST back as
canonical zed text; `-C -s` prints the semantically analyzed DAG;
`-C -O` the optimized DAG; `-C -P N` the parallelized DAG.  This
module re-implements that surface for the PySpark engine over the
dict AST of the engine's one parser (`parser.parse_ast`): a semantic
normalizer, a tiny optimizer/parallelizer mimic, and the two printers.

Reference semantics (independent implementation, no code copied):
  zfmt/ast.go (canonical AST print), zfmt/dag.go (DAG print),
  zfmt/format.go (indenting writer), zfmt/zed.go (literals/paths),
  compiler/semantic/analyzer.go:154 (checkOutputs / output main),
  compiler/semantic/op.go:427 (singletonAgg -> summarize | yield),
  compiler/optimizer (filter merge/pushdown, pass removal),
  compiler/parallelizer (scatter/merge/combine split).

The AST is dicts {"k": kind, ...} mirroring the reference ast
package shapes; the DAG is the same dicts after normalization.
"""

from __future__ import annotations

import re

from zed_spark.lang.parser import _AGG_NAMES, _is_agg_call, parse_ast

# ---------------------------------------------------------------------------
# formatter (zfmt/format.go mechanics)


class _Fmt:
    def __init__(self, tab: int = 2):
        self.buf: list[str] = []
        self.indent = 0
        self.tab = tab
        self.need_tab = False
        self.need_ret = False

    def flush(self):
        if self.need_ret:
            self.buf.append("\n")
            self.need_ret = False

    def write_tab(self):
        self.flush()
        self.buf.append(" " * self.indent)
        self.need_tab = False

    def write(self, s: str):
        self.flush()
        if self.need_tab:
            self.write_tab()
        self.buf.append(s)

    def open(self, s: str = ""):
        if s:
            self.write(s)
        self.indent += self.tab

    def close(self):
        self.indent -= self.tab

    def ret(self):
        self.need_tab = True
        self.need_ret = True

    def space(self):
        self.write(" ")

    def result(self) -> str:
        return "".join(self.buf)


_ID_RE = re.compile(r"^[A-Za-z_][A-Za-z_0-9]*$")


def _quoted_name(s: str) -> str:
    """zson.QuotedName: identifiers print bare, others quoted."""
    if _ID_RE.match(s):
        return s
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _quoted_string(s: str) -> str:
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


class ZfmtError(ValueError):
    pass


# ---------------------------------------------------------------------------
# canonical AST printer (zfmt/ast.go semantics)

_PRECEDENCE = {
    "not": 1, "^": 2, "*": 3, "/": 3, "%": 3, "+": 4, "-": 4,
    "<": 5, "<=": 5, ">": 5, ">=": 5, "==": 5, "!=": 5, "in": 5,
    "and": 6, "or": 7,
}


def _prec(op: str) -> int:
    return _PRECEDENCE.get(op, 100)


def _needs_parens(parent: str, op: str) -> bool:
    return _prec(parent) - _prec(op) < 0


class _CanonAST(_Fmt):
    def __init__(self):
        super().__init__(tab=2)
        self.head = True
        self.first = True

    # expressions -----------------------------------------------------
    def expr(self, e, parent: str = ""):
        if e is None:
            self.write("null")
            return
        k = e["k"]
        if k == "Prim":
            self.literal(e)
        elif k == "ID":
            self.write(e["name"])
        elif k == "Term":
            self.write(e["text"])
        elif k == "Glob":
            self.write(e["text"])
        elif k == "Regexp":
            self.write("/%s/" % e["pattern"])
        elif k == "Unary":
            self.write(e["op"])
            self.expr(e["operand"], "not")
        elif k == "Bin":
            self.binary(e, parent)
        elif k == "Paren":
            # explicit parens in the source are not kept by the AST;
            # reprint by precedence of the inner expr
            self.expr(e["expr"], parent)
        elif k == "Cond":
            self.write("(")
            self.expr(e["cond"], "")
            self.write(") ? ")
            self.expr(e["then"], "")
            self.write(" : ")
            self.expr(e["else"], "")
        elif k == "Call":
            self.write("%s(" % e["name"])
            self.exprs(e["args"])
            self.write(")")
        elif k == "Agg":
            self.write("%s(" % e["name"])
            if e["expr"] is not None:
                self.expr(e["expr"], "")
            self.write(")")
            if e.get("where") is not None:
                self.write(" where ")
                self.expr(e["where"], "")
        elif k == "Cast":
            self.expr(e["type"], "")
            self.write("(")
            self.expr(e["expr"], "")
            self.write(")")
        elif k == "TypeValue":
            self.write("<%s>" % e["text"])
        elif k == "Grep":
            self.write("grep(")
            self.expr(e["pattern"], "")
            if e["expr"] is not None:
                self.write(",")
                self.expr(e["expr"], "")
            self.write(")")
        elif k == "Index":
            self.expr(e["expr"], "")
            self.write("[")
            self.expr(e["index"], "")
            self.write("]")
        elif k == "Slice":
            self.expr(e["expr"], "")
            self.write("[")
            if e["from"] is not None:
                self.expr(e["from"], "")
            self.write(":")
            if e["to"] is not None:
                self.expr(e["to"], "")
            self.write("]")
        elif k == "Record":
            self.write("{")
            for i, elem in enumerate(e["elems"]):
                if i:
                    self.write(",")
                if elem[0] == "field":
                    self.write(_quoted_name(elem[1]))
                    self.write(":")
                    self.expr(elem[2], "")
                elif elem[0] == "id":
                    self.write(_quoted_name(elem[1]))
                else:
                    self.write("...")
                    self.expr(elem[1], "")
            self.write("}")
        elif k == "Array":
            self.write("[")
            self.vector_elems(e["elems"])
            self.write("]")
        elif k == "Set":
            self.write("|[")
            self.vector_elems(e["elems"])
            self.write("]|")
        elif k == "Map":
            self.write("|{")
            for i, (mk, mv) in enumerate(e["entries"]):
                if i:
                    self.write(",")
                self.expr(mk, "")
                self.write(":")
                self.expr(mv, "")
            self.write("}|")
        elif k == "OverExpr":
            self.open("(")
            self.ret()
            self.write("over ")
            self.exprs(e["exprs"])
            if e["locals"]:
                self.write(" with ")
                for i, (n, de) in enumerate(e["locals"]):
                    if i:
                        self.write(", ")
                    self.write("%s=" % n)
                    self.expr(de, "")
            self.seq(e["body"])
            self.close()
            self.ret()
            self.flush()
            self.write(")")
        elif k == "FString":
            self.write('f"')
            for part in e["parts"]:
                if part[0] == "text":
                    self.write(part[1])
                else:
                    self.write("{")
                    self.expr(part[1], "")
                    self.write("}")
            self.write('"')
        elif k == "Assign":
            self.assignment(e)
        else:
            self.write("(unknown expr %s)" % k)

    def literal(self, e):
        if e["type"] in ("string", "error"):
            self.write('"%s"' % e["text"])
        elif e["type"] == "regexp":
            self.write("/%s/" % e["text"])
        else:
            self.write(e["text"])

    def binary(self, e, parent: str):
        op = e["op"]
        if op == ".":
            if not (e["lhs"]["k"] == "ID" and e["lhs"]["name"] == "this"):
                self.expr(e["lhs"], "")
                self.write(".")
            self.expr(e["rhs"], "")
            return
        parens = _needs_parens(parent, op)
        if parens:
            self.write("(")
        self.expr(e["lhs"], op)
        if op in ("and", "or", "in"):
            self.write(" %s " % op)
        else:
            self.write(op)
        self.expr(e["rhs"], op)
        if parens:
            self.write(")")

    def exprs(self, exprs):
        for i, e in enumerate(exprs):
            if i:
                self.write(", ")
            self.expr(e, "")

    def vector_elems(self, elems):
        for i, elem in enumerate(elems):
            if i:
                self.write(",")
            if elem[0] == "spread":
                self.write("...")
                self.expr(elem[1], "")
            else:
                self.expr(elem[1], "")

    def assignments(self, assigns):
        for i, a in enumerate(assigns):
            if i:
                self.write(",")
            self.assignment(a)

    def assignment(self, a):
        if a["lhs"] is not None:
            self.expr(a["lhs"], "")
            self.write(":=")
        self.expr(a["rhs"], "")

    # operators -------------------------------------------------------
    def next_op(self):
        if self.first:
            self.first = False
        else:
            self.write("\n")
        self.need_ret = False
        self.write_tab()
        if self.head:
            self.head = False
        else:
            self.write("| ")

    def seq(self, seq):
        for p in seq:
            self.op(p)

    def op(self, p):
        k = p["k"]
        if k == "Scope":
            self.scope(p, True)
        elif k == "Parallel":
            self.next_op()
            self.open("fork (")
            for path in p["paths"]:
                self.ret()
                self.write("=>")
                self.open()
                self.head = True
                self.seq(path)
                self.close()
            self.close()
            self.ret()
            self.flush()
            self.write(")")
        elif k == "Switch":
            self.next_op()
            self.write("switch ")
            if p["expr"] is not None:
                self.expr(p["expr"], "")
                self.write(" ")
            self.open("(")
            for ce, path in p["cases"]:
                self.ret()
                if ce is not None:
                    self.write("case ")
                    self.expr(ce, "")
                else:
                    self.write("default")
                self.write(" =>")
                self.open()
                self.head = True
                self.seq(path)
                self.close()
            self.close()
            self.ret()
            self.flush()
            self.write(")")
        elif k == "From":
            self.next_op()
            self.open("from (")
            for src, sub in p["trunks"]:
                self.ret()
                self.source(src)
                if sub is not None:
                    self.write(" =>")
                    self.open()
                    self.head = True
                    self.seq(sub)
                    self.close()
            self.close()
            self.ret()
            self.flush()
            self.write(")")
        elif k == "Pool":
            self.next_op()
            self.open("")
            self.write("from ")
            self.pool(p)
            self.close()
        elif k == "File":
            self.next_op()
            self.open("")
            self.file(p)
            self.close()
        elif k == "HTTP":
            self.next_op()
            self.open("")
            self.http(p)
            self.close()
        elif k == "Summarize":
            self.next_op()
            self.open("summarize")
            self.ret()
            self.open()
            self.assignments(p["aggs"])
            if p["keys"]:
                self.write(" by ")
                self.assignments(p["keys"])
            if p["limit"]:
                self.write(" -with limit %d" % p["limit"])
            self.close()
            self.close()
        elif k == "Cut":
            self.next_op()
            self.write("cut ")
            self.assignments(p["args"])
        elif k == "Drop":
            self.next_op()
            self.write("drop ")
            self.exprs(p["args"])
        elif k == "Sort":
            self.next_op()
            self.write("sort")
            if p["reverse"]:
                self.write(" -r")
            if p["nullsfirst"]:
                self.write(" -nulls first")
            for i, (e, order) in enumerate(p["args"]):
                if i:
                    self.write(",")
                self.space()
                self.expr(e, "")
                if order is not None:
                    self.write(" %s" % order)
        elif k == "Load":
            self.next_op()
            self.write("load %s" % _quoted_string(p["pool"]))
            if p["branch"]:
                self.write("@%s" % p["branch"])
            for kw in ("author", "message", "meta"):
                if p[kw]:
                    self.write(" %s %s" % (kw, p[kw]))
        elif k == "Head":
            self.next_op()
            self.open("head")
            if p["count"] is not None:
                self.write(" ")
                self.expr(p["count"], "")
            self.close()
        elif k == "Tail":
            self.next_op()
            self.open("tail")
            if p["count"] is not None:
                self.write(" ")
                self.expr(p["count"], "")
            self.close()
        elif k == "Uniq":
            self.next_op()
            self.write("uniq")
            if p["c"]:
                self.write(" -c")
        elif k == "Pass":
            self.next_op()
            self.write("pass")
        elif k == "OpExpr":
            self.op_expr(p)
        elif k == "Search":
            self.next_op()
            self.open("search ")
            self.expr(p["expr"], "")
            self.close()
        elif k == "Where":
            self.next_op()
            self.open("where ")
            self.expr(p["expr"], "")
            self.close()
        elif k == "Top":
            self.next_op()
            self.write("top limit=%d flush=%s " % (
                p["limit"], "true" if p["flush"] else "false"))
            self.exprs(p["args"])
        elif k == "Put":
            self.next_op()
            self.write("put ")
            self.assignments(p["args"])
        elif k == "Rename":
            self.next_op()
            self.write("rename ")
            self.assignments(p["args"])
        elif k == "Fuse":
            self.next_op()
            self.write("fuse")
        elif k == "Join":
            self.next_op()
            self.write("join ")
            if p["right"] is not None:
                self.open("(")
                self.head = True
                self.seq(p["right"])
                self.close()
                self.ret()
                self.flush()
                self.write(") ")
            self.write("on ")
            self.expr(p["lk"], "")
            if p["rk"] is not None:
                self.write("=")
                self.expr(p["rk"], "")
            if p["args"] is not None:
                self.write(" ")
                self.assignments(p["args"])
        elif k == "OpAssignment":
            self.next_op()
            which = "put "
            if all(_is_agg_call(a["rhs"]) for a in p["assigns"]):
                which = "summarize "
            if which == "summarize ":
                # printed via the Summarize op shape
                self.head = True
                self.first = True if False else self.first
                # reuse Summarize print: emulate ast.go OpAssignment
                self.open(which.rstrip() )
                self.ret()
                self.open()
                self.assignments(p["assigns"])
                self.close()
                self.close()
            else:
                self.open(which)
                self.assignments(p["assigns"])
                self.close()
        elif k == "Merge":
            self.next_op()
            self.write("merge ")
            self.expr(p["expr"], "")
        elif k == "Over":
            self.over(p)
        elif k == "Yield":
            self.next_op()
            self.write("yield ")
            self.exprs(p["exprs"])
        elif k == "Output":
            self.next_op()
            self.write("output %s" % p["name"])
        elif k == "Debug":
            self.next_op()
            self.write("debug")
            if p["expr"] is not None:
                self.write(" ")
                self.expr(p["expr"], "")
        else:
            self.next_op()
            self.write("unknown proc: %s" % k)

    def op_expr(self, p):
        e = p["expr"]
        agg = _as_agg_summarize(e)
        if agg is not None:
            self.op(agg)
            return
        self.next_op()
        which = ""
        if _is_search(e):
            which = "search "
        elif _is_bool(e):
            which = "where "
        elif e["k"] != "Call":
            which = "yield "
        if which:
            self.open(which)
        self.expr(e, "")
        if which:
            self.close()

    def over(self, o):
        self.next_op()
        self.write("over ")
        self.exprs(o["exprs"])
        if o["locals"]:
            self.write(" with ")
            for i, (n, de) in enumerate(o["locals"]):
                if i:
                    self.write(", ")
                self.write("%s=" % n)
                self.expr(de, "")
        if o["body"] is not None:
            self.write(" => (")
            self.open()
            self.head = True
            self.seq(o["body"])
            self.close()
            self.ret()
            self.flush()
            self.write(")")

    def scope(self, s, parens: bool):
        if parens:
            self.open("(")
            self.ret()
        for d in s["decls"]:
            self.decl(d)
            self.ret()
        self.flush()
        self.seq(s["body"])
        if parens:
            self.close()
            self.ret()
            self.flush()
            self.write(")")

    def decl(self, d):
        kind = d[0]
        if kind == "const":
            self.write("const %s = " % d[1])
            self.expr(d[2], "")
        elif kind == "func":
            self.write("func %s(" % d[1])
            for i, pname in enumerate(d[2]):
                if i:
                    self.write(", ")
                self.write(pname)
            self.open("): (")
            self.ret()
            self.expr(d[3], d[1])
            self.close()
            self.ret()
            self.flush()
            self.write(")")
        elif kind == "op":
            self.write("op %s(" % d[1])
            for i, pname in enumerate(d[2]):
                if i:
                    self.write(", ")
                self.write(pname)
            self.open("): (")
            self.ret()
            self.flush()
            self.head = True
            self.seq(d[3])
            self.close()
            self.ret()
            self.flush()
            self.write(")")
            self.head = True
            self.first = True
        elif kind == "type":
            self.write("type %s = %s" % (_quoted_name(d[1]), d[2]))

    def pool(self, p):
        s = p["pool"][1] if p["pool"][0] != "regexp" else (
            "/" + p["pool"][1] + "/"
        )
        if p.get("commit"):
            s += "@" + p["commit"]
        if p.get("meta"):
            s += ":" + p["meta"]
        self.write(s)

    def file(self, p):
        self.write("file %s" % _pattern_text(p["path"]))
        if p["format"]:
            self.write(" format %s" % p["format"])

    def http(self, p):
        self.write("get %s" % _pattern_text(p["url"]))
        if p["format"]:
            self.write(" format %s" % p["format"])
        if p["method"]:
            self.write(" method %s" % _quoted_name(p["method"]))
        if p["headers"] is not None:
            self.write(" headers ")
            self.expr(p["headers"], "")
        if p["body"]:
            self.write(" body %s" % _quoted_name(p["body"]))

    def source(self, src):
        if src["k"] == "Pool":
            self.write("pool ")
            self.pool(src)
        elif src["k"] == "HTTP":
            self.http(src)
        elif src["k"] == "File":
            self.file(src)


def _pattern_text(pat) -> str:
    kind, text = pat
    if kind == "regexp":
        return "/" + text + "/"
    if kind == "qstring":
        return _quoted_string(text)
    return text


def _as_agg_summarize(e):
    """isAggFunc (zfmt/ast.go:723): a bare agg call in op position
    prints as an implied summarize."""
    if e["k"] == "Call" and e["name"] in _AGG_NAMES:
        return {"k": "Summarize", "limit": 0, "keys": [],
                "aggs": [{"k": "Assign", "lhs": None, "rhs": e}]}
    return None


def _is_search(e) -> bool:
    k = e["k"]
    if k in ("Regexp", "Glob", "Term"):
        return True
    if k == "Bin" and e["op"] in ("and", "or"):
        return _is_search(e["lhs"]) or _is_search(e["rhs"])
    if k == "Unary":
        return _is_search(e["operand"])
    return False


_BOOL_FNS = {
    "is", "is_error", "has", "missing", "has_error", "grep",
    "cidr_match", "strings.has_prefix", "strings.has_suffix",
}


def _is_bool(e) -> bool:
    k = e["k"]
    if k == "Prim":
        return e["type"] == "bool"
    if k == "Unary":
        return _is_bool(e["operand"])
    if k == "Paren":
        return _is_bool(e["expr"])
    if k == "Bin":
        return e["op"] in ("and", "or", "in", "==", "!=", "<", "<=",
                           ">", ">=")
    if k == "Cond":
        return _is_bool(e["then"]) and _is_bool(e["else"])
    if k == "Call":
        return e["name"] in _BOOL_FNS
    if k == "Cast":
        return e["type"].get("text") == "bool"
    if k in ("Grep", "Regexp", "Glob"):
        return True
    return False


def format_ast(seq) -> str:
    c = _CanonAST()
    if seq and seq[0]["k"] == "Scope":
        c.scope(seq[0], False)
    else:
        c.seq(seq)
    c.flush()
    return c.result()


def canonical(src: str) -> str:
    """`super dev compile -C`: parse + canonical AST print."""
    return format_ast(parse_ast(src))


# ---------------------------------------------------------------------------
# semantic normalization (compiler/semantic/op.go mimic for the
# dev-compile print surface) — AST dicts in, DAG dicts out.


class _Sem:
    """Semantic pass for DAG printing: resolves scopes/consts/user
    ops, classifies ambiguous op expressions, adds the default
    source and output operators (analyzer.go:154 checkOutputs)."""

    def __init__(self, env=None):
        self.env = env or {}
        self.consts: dict = {}
        self.funcs: dict = {}
        self.user_ops: dict = {}
        self.params: dict = {}  # user-op param substitution env

    def analyze(self, seq: list, add_source: bool = True) -> list:
        out = self.seq(seq)
        if add_source and not _starts_with_source(out):
            out.insert(0, {"k": "DefaultScan"})
        return _check_outputs(True, out)

    # --- sequences / operators
    def seq(self, seq: list) -> list:
        out: list = []
        for i, p in enumerate(seq):
            if p["k"] == "Debug":
                # semDebugOp (op.go:392): the REST of the sequence
                # becomes the mirror's main branch
                e = self.expr(p["expr"]) if p["expr"] is not None else (
                    {"k": "This", "path": []}
                )
                main = self.seq(seq[i + 1 :])
                if not main:
                    main = [{"k": "Pass"}]
                out.append({
                    "k": "Mirror",
                    "mirror": [{"k": "DagYield", "exprs": [e]},
                               {"k": "DagOutput", "name": "debug"}],
                    "main": main,
                })
                return out
            out = self.op(p, out)
        return out

    def op(self, p: dict, out: list) -> list:
        k = p["k"]
        if k == "Scope":
            consts = []
            funcs = []
            for d in p["decls"]:
                if d[0] == "const":
                    self.consts[d[1]] = d[2]
                    consts.append((d[1], self.expr(d[2])))
                elif d[0] == "type":
                    self.consts[d[1]] = {"k": "TypeValue", "text": d[2]}
                    consts.append(
                        (d[1], {"k": "Literal", "text": "<%s>" % d[2]})
                    )
                elif d[0] == "func":
                    self.funcs[d[1]] = (d[2], d[3])
                    funcs.append((d[1], d[2], self.expr(d[3], infunc=True)))
                elif d[0] == "op":
                    if len(set(d[2])) != len(d[2]):
                        dup = next(
                            p for p in d[2] if d[2].count(p) > 1
                        )
                        raise ZfmtError(
                            'duplicate parameter "%s"' % dup
                        )
                    self.user_ops[d[1]] = (d[2], d[3])
            body = self.seq(p["body"])
            out.append({"k": "DagScope", "consts": consts, "funcs": funcs,
                        "body": body})
            return out
        if k == "Parallel":
            out.append({"k": "Fork",
                        "paths": [self.seq(s) for s in p["paths"]]})
            return out
        if k == "Switch":
            expr = self.expr(p["expr"]) if p["expr"] is not None else None
            cases = []
            for ce, path in p["cases"]:
                if ce is None and expr is None:
                    de = {"k": "Literal", "text": "true"}
                elif ce is None:
                    de = None
                else:
                    de = self.expr(ce)
                cases.append((de, self.seq(path)))
            out.append({"k": "DagSwitch", "expr": expr, "cases": cases})
            return out
        if k == "From":
            if len(p["trunks"]) == 1:
                src, sub = p["trunks"][0]
                out = self.op(src, out)
                if sub is not None:
                    out.extend(self.seq(sub))
                return out
            paths = []
            for src, sub in p["trunks"]:
                leg = self.op(src, [])
                if sub is not None:
                    leg.extend(self.seq(sub))
                paths.append(leg)
            out.append({"k": "Fork", "paths": paths})
            return out
        if k == "Pool":
            name = self._resolve_str(p["pool"], "POOL")
            info = None
            if callable(self.env.get("pool_info")):
                info = self.env["pool_info"](name)
            if info is None:
                raise ZfmtError("%s: pool not found" % name)
            node = {"k": "PoolScan", "id": str(info["id"]),
                    "key": info.get("key", "ts"),
                    "order": info.get("order", "asc"),
                    "commit": str(info.get("commit", ""))}
            if p.get("meta"):
                node = {"k": "PoolMetaScan", "id": str(info["id"]),
                        "meta": p["meta"]}
            out.append(node)
            return out
        if k == "File":
            path = self._resolve_str(p["path"], "FILE")
            out.append({"k": "FileScan", "path": path,
                        "format": p["format"], "filter": None})
            return out
        if k == "HTTP":
            url = self._resolve_str(p["url"], "URL")
            out.append({"k": "HTTPScan", "url": url})
            return out
        if k == "Where":
            out.append({"k": "Filter", "expr": self.expr(p["expr"])})
            return out
        if k == "Search":
            out.append({"k": "Filter", "expr": self.expr(p["expr"])})
            return out
        if k == "OpExpr":
            return self._op_expr(p["expr"], out)
        if k == "OpAssignment":
            if all(_is_agg_call(a["rhs"]) for a in p["assigns"]):
                return self._summarize(
                    {"k": "Summarize", "aggs": p["assigns"], "keys": [],
                     "limit": 0}, out)
            out.append({"k": "Put",
                        "args": [self.assignment(a) for a in p["assigns"]]})
            return out
        if k == "Summarize":
            return self._summarize(p, out)
        if k == "Cut":
            out.append({"k": "Cut",
                        "args": [self.assignment(a, name_rhs=True)
                                 for a in p["args"]]})
            return out
        if k == "Drop":
            out.append({"k": "Drop",
                        "args": [self.expr(e) for e in p["args"]]})
            return out
        if k in ("Put", "Rename"):
            out.append({"k": k,
                        "args": [self.assignment(a) for a in p["args"]]})
            return out
        if k == "Sort":
            args = []
            for e, order in p["args"]:
                args.append((self.expr(e), order or "asc"))
            out.append({"k": "DagSort", "reverse": p["reverse"],
                        "nullsfirst": p["nullsfirst"], "args": args})
            return out
        if k == "Head" or k == "Tail":
            count = 1
            if p["count"] is not None:
                count = self._int_const(p["count"])
            out.append({"k": k, "count": count})
            return out
        if k == "Uniq":
            out.append({"k": "Uniq", "c": p["c"]})
            return out
        if k in ("Pass", "Fuse"):
            out.append({"k": k})
            return out
        if k == "Yield":
            out.append({"k": "DagYield",
                        "exprs": [self.expr(e) for e in p["exprs"]]})
            return out
        if k == "Output":
            out.append({"k": "DagOutput", "name": p["name"]})
            return out
        if k == "Debug":
            e = self.expr(p["expr"]) if p["expr"] is not None else (
                {"k": "This", "path": []}
            )
            out.append({
                "k": "Mirror",
                "mirror": [{"k": "DagYield", "exprs": [e]},
                           {"k": "DagOutput", "name": "debug"}],
                "main": [],
            })
            return out
        if k == "Join":
            lk = self.expr(p["lk"])
            rk = self.expr(p["rk"]) if p["rk"] is not None else lk
            args = [self.assignment(a) for a in (p["args"] or [])]
            if p["right"] is not None:
                right = self.seq(p["right"])
                out.append({"k": "Fork",
                            "paths": [[{"k": "Pass"}], right]})
            out.append({"k": "DagJoin", "lk": lk, "rk": rk, "args": args})
            return out
        if k == "Over":
            body = self.seq(p["body"]) if p["body"] is not None else None
            out.append({
                "k": "DagOver",
                "exprs": [self.expr(e) for e in p["exprs"]],
                "defs": [(n, self.expr(e)) for n, e in p["locals"]],
                "body": body,
            })
            return out
        if k == "Merge":
            out.append({"k": "DagMerge", "expr": self.expr(p["expr"]),
                        "order": "asc"})
            return out
        if k == "Top":
            out.append({"k": "DagTop", "limit": p["limit"],
                        "flush": p["flush"],
                        "args": [self.expr(e) for e in p["args"]]})
            return out
        if k == "Load":
            out.append(dict(p, k="DagLoad"))
            return out
        raise ZfmtError("semantic: unsupported op %s" % k)

    def _op_expr(self, e: dict, out: list) -> list:
        # user-op call inlines its body with params bound
        if e["k"] == "Call" and e["name"] in self.user_ops:
            params, body = self.user_ops[e["name"]]
            saved = self.params
            self.params = dict(saved)
            for pname, arg in zip(params, e["args"]):
                self.params[pname] = self._subst(arg)
            try:
                return self._inline_seq(body, out)
            finally:
                self.params = saved
        if e["k"] == "Call" and e["name"] in _AGG_NAMES:
            return self._summarize(
                {"k": "Summarize", "keys": [], "limit": 0,
                 "aggs": [{"k": "Assign", "lhs": None, "rhs": e}]}, out)
        de = self.expr(e)
        if _is_search(e) or _is_bool(e) or self._bool_call(e):
            out.append({"k": "Filter", "expr": de})
        elif e["k"] == "Call":
            out.append({"k": "DagYield", "exprs": [de]})
        else:
            out.append({"k": "DagYield", "exprs": [de]})
        return out

    def _bool_call(self, e: dict) -> bool:
        """A call of a user func whose body has a boolean result
        compiles to a filter (semantic/op.go OpExpr handling)."""
        if e["k"] != "Call" or e["name"] not in self.funcs:
            return False
        _, body = self.funcs[e["name"]]
        return _is_bool(body)

    def _inline_seq(self, body: list, out: list) -> list:
        for p in body:
            p2 = self._subst_op(p)
            out = self.op(p2, out)
        return out

    def _subst_op(self, p):
        if isinstance(p, dict):
            if p["k"] == "ID" and p["name"] in self.params:
                return self.params[p["name"]]
            if p["k"] == "Term" and p["text"] in self.params:
                return self.params[p["text"]]
            return {key: self._subst_op(v) for key, v in p.items()}
        if isinstance(p, list):
            return [self._subst_op(x) for x in p]
        if isinstance(p, tuple):
            return tuple(self._subst_op(x) for x in p)
        return p

    def _subst(self, e):
        return self._subst_op(e)

    def _summarize(self, p: dict, out: list) -> list:
        aggs = []
        for a in p["aggs"]:
            lhs = a["lhs"]
            if lhs is None:
                lhs = {"k": "ID", "name": a["rhs"]["name"]}
            dl = self.expr(lhs)
            if dl.get("k") != "This":
                raise ZfmtError(
                    "aggregate output field must be static")
            aggs.append((dl, self.expr(a["rhs"])))
        keys = []
        for a in p["keys"]:
            rhs = a["rhs"]
            lhs = a["lhs"]
            if lhs is None:
                if rhs["k"] == "Call" and rhs["name"] == "every":
                    lhs = {"k": "ID", "name": "ts"}
                else:
                    lhs = rhs
            dl = self.expr(lhs)
            if dl.get("k") != "This":
                raise ZfmtError("output field must be static")
            keys.append((dl, self.expr(rhs)))
        node = {"k": "DagSummarize", "aggs": aggs, "keys": keys,
                "limit": p.get("limit", 0), "partials": "",
                "sort_dir": 0}
        out.append(node)
        # singletonAgg (semantic/op.go:827): one agg, no keys, no
        # explicit LHS -> summarize | yield <name>
        if not p["keys"] and len(p["aggs"]) == 1 and (
            p["aggs"][0]["lhs"] is None
        ):
            name = p["aggs"][0]["rhs"]["name"]
            out.append({"k": "DagYield",
                        "exprs": [{"k": "This", "path": [name]}]})
        return out

    def assignment(self, a: dict, name_rhs: bool = False):
        lhs = a["lhs"]
        if lhs is None and name_rhs:
            lhs = a["rhs"]
        if lhs is None and _is_agg_call(a["rhs"]):
            lhs = {"k": "ID", "name": a["rhs"]["name"]}
        dl = self.expr(lhs) if lhs is not None else None
        if dl is not None and dl.get("k") == "Literal":
            # a constant (e.g. an inlined user-op parameter) cannot
            # be assigned to (op/ztests/user-errors error-const-lhs)
            raise ZfmtError("illegal left-hand side of assignment")
        return (dl, self.expr(a["rhs"]))

    # --- expressions
    def expr(self, e, infunc: bool = False):
        if e is None:
            return None
        k = e["k"]
        if k == "Prim":
            return {"k": "Literal", "text": _zson_literal(e)}
        if k == "ID":
            name = e["name"]
            if name in self.params:
                return self.expr(self.params[name], infunc)
            if name in self.user_ops:
                raise ZfmtError(
                    '"%s": illegal reference to user op in expression'
                    % name
                )
            if name == "this":
                return {"k": "This", "path": []}
            if infunc:
                return {"k": "Var", "name": name}
            return {"k": "This", "path": [name]}
        if k == "Term":
            if e["text"] in self.params:
                return self.expr(self.params[e["text"]], infunc)
            text = e["text"]
            if re.fullmatch(r"-?\d+(\.\d+)?", text):
                # numeric terms carry their zed-value text unquoted
                return {"k": "DagSearch", "value": text}
            return {"k": "DagSearch", "value": _quoted_string(text)}
        if k == "Glob":
            return {"k": "DagSearch", "value": e["text"]}
        if k == "Regexp":
            return {"k": "DagSearch", "value": "/%s/" % e["pattern"]}
        if k == "Grep":
            pat = e["pattern"]
            if e["expr"] is None and pat["k"] == "Prim" and (
                pat["type"] == "string"
            ):
                return {"k": "DagSearch",
                        "value": _quoted_string(pat["text"])}
            args = [self.expr(pat, infunc)]
            if e["expr"] is not None:
                args.append(self.expr(e["expr"], infunc))
            return {"k": "DagCall", "name": "grep", "args": args}
        if k == "Paren":
            return self.expr(e["expr"], infunc)
        if k == "Unary":
            return {"k": "DagUnary", "op": e["op"],
                    "operand": self.expr(e["operand"], infunc)}
        if k == "Bin":
            if e["op"] == ".":
                lhs = self.expr(e["lhs"], infunc)
                if lhs.get("k") == "This":
                    return {"k": "This",
                            "path": lhs["path"] + [e["rhs"]["name"]]}
                return {"k": "DagDot", "lhs": lhs,
                        "name": e["rhs"]["name"]}
            return {"k": "DagBin", "op": e["op"],
                    "lhs": self.expr(e["lhs"], infunc),
                    "rhs": self.expr(e["rhs"], infunc)}
        if k == "Index":
            inner = self.expr(e["expr"], infunc)
            idx = e["index"]
            if inner.get("k") == "This" and idx["k"] == "Prim" and (
                idx["type"] == "string"
            ):
                return {"k": "This", "path": inner["path"] + [idx["text"]]}
            return {"k": "DagIndex", "expr": inner,
                    "index": self.expr(idx, infunc)}
        if k == "Slice":
            return {"k": "DagSlice", "expr": self.expr(e["expr"], infunc),
                    "from": self.expr(e["from"], infunc),
                    "to": self.expr(e["to"], infunc)}
        if k == "Cond":
            return {"k": "DagCond", "cond": self.expr(e["cond"], infunc),
                    "then": self.expr(e["then"], infunc),
                    "else": self.expr(e["else"], infunc)}
        if k == "Call":
            return {"k": "DagCall", "name": e["name"],
                    "args": [self.expr(a, infunc) for a in e["args"]]}
        if k == "Agg":
            return {"k": "DagAgg", "name": e["name"],
                    "expr": self.expr(e["expr"], infunc),
                    "where": self.expr(e.get("where"), infunc)}
        if k == "Cast":
            return {"k": "DagCall", "name": "cast",
                    "args": [self.expr(e["expr"], infunc),
                             {"k": "Literal",
                              "text": "<%s>" % e["type"]["text"]}]}
        if k == "TypeValue":
            return {"k": "Literal", "text": "<%s>" % e["text"]}
        if k == "Record":
            elems = []
            for elem in e["elems"]:
                if elem[0] == "field":
                    elems.append(("field", elem[1],
                                  self.expr(elem[2], infunc)))
                elif elem[0] == "id":
                    elems.append(("field", elem[1],
                                  self.expr({"k": "ID", "name": elem[1]},
                                            infunc)))
                else:
                    elems.append(("spread", self.expr(elem[1], infunc)))
            return {"k": "DagRecord", "elems": elems}
        if k in ("Array", "Set"):
            return {"k": "Dag" + k,
                    "elems": [(t, self.expr(x, infunc))
                              for t, x in e["elems"]]}
        if k == "Map":
            return {"k": "DagMap",
                    "entries": [(self.expr(mk, infunc),
                                 self.expr(mv, infunc))
                                for mk, mv in e["entries"]]}
        if k == "OverExpr":
            saved_body = self.seq(e["body"])
            return {"k": "DagOverExpr",
                    "exprs": [self.expr(x, infunc) for x in e["exprs"]],
                    "defs": [(n, self.expr(x, infunc))
                             for n, x in e["locals"]],
                    "body": saved_body}
        if k == "FString":
            # semantic lowers f-strings to string concatenation with
            # cast(expr, <string>) on each replacement
            acc = None
            for part in e["parts"]:
                if part[0] == "text":
                    node = {"k": "Literal",
                            "text": _quoted_string(part[1])}
                else:
                    node = {"k": "DagCall", "name": "cast",
                            "args": [self.expr(part[1], infunc),
                                     {"k": "Literal", "text": "<string>"}]}
                acc = node if acc is None else (
                    {"k": "DagBin", "op": "+", "lhs": acc, "rhs": node}
                )
            return acc or {"k": "Literal", "text": '""'}
        if k == "Assign":
            return self.assignment(e)
        raise ZfmtError("semantic: unsupported expr %s" % k)

    # --- const resolution helpers
    def _resolve_str(self, pat, what: str) -> str:
        kind, text = pat
        if kind == "string" and text in self.params:
            v = self.params[text]
            if v["k"] == "Prim" and v["type"] == "string":
                return v["text"]
            raise ZfmtError("%s: string value required" % text)
        if kind == "string" and text in self.consts:
            c = self.consts[text]
            if c["k"] == "Prim" and c["type"] == "string":
                return c["text"]
            raise ZfmtError("%s: string value required" % text)
        return _pattern_text(pat)

    def _int_const(self, e) -> int:
        v = self._fold(e)
        if isinstance(v, bool) or not isinstance(v, int):
            raise ZfmtError(
                "expression value must be an integer value")
        return v

    def _fold(self, e):
        k = e["k"]
        if k == "Prim":
            if e["type"] == "int64":
                return int(e["text"])
            if e["type"] == "float64":
                return float(e["text"])
            if e["type"] == "string":
                return e["text"]
            if e["type"] == "bool":
                return e["text"] == "true"
            return None
        if k == "Paren":
            return self._fold(e["expr"])
        if k == "ID":
            if e["name"] in self.consts:
                return self._fold(self.consts[e["name"]])
            raise ZfmtError(
                "expression value must be an integer value: "
                'error("missing")')
        if k == "Term":
            if e["text"] in self.consts:
                return self._fold(self.consts[e["text"]])
            raise ZfmtError(
                "expression value must be an integer value: "
                'error("missing")')
        if k == "Bin":
            lhs = self._fold(e["lhs"])
            rhs = self._fold(e["rhs"])
            ops = {"+": lambda a, b: a + b, "-": lambda a, b: a - b,
                   "*": lambda a, b: a * b,
                   "/": lambda a, b: a // b if isinstance(a, int) else a / b}
            if e["op"] in ops:
                return ops[e["op"]](lhs, rhs)
        raise ZfmtError("expression value must be an integer value")


def _starts_with_source(seq: list) -> bool:
    if not seq:
        return False
    p = seq[0]
    if p["k"] in ("FileScan", "HTTPScan", "PoolScan", "PoolMetaScan",
                  "DefaultScan", "Lister", "DagLoad"):
        return True
    if p["k"] == "DagScope":
        return _starts_with_source(p["body"])
    if p["k"] == "Fork":
        return all(_starts_with_source(path) for path in p["paths"])
    return False


def _check_outputs(is_leaf: bool, seq: list) -> list:
    """analyzer.go:154 checkOutputs: add `output main` at leaves."""
    if not seq:
        return seq
    last = len(seq) - 1
    for i, o in enumerate(seq):
        is_last = i == last
        k = o["k"]
        if k == "DagScope":
            o["body"] = _check_outputs(is_last and is_leaf, o["body"])
        elif k in ("Fork", "Scatter"):
            o["paths"] = [_check_outputs(is_last and is_leaf, s)
                          for s in o["paths"]]
        elif k == "DagOver":
            if o["body"] is not None:
                o["body"] = _check_outputs(False, o["body"])
        elif k == "DagSwitch":
            o["cases"] = [(e, _check_outputs(is_last and is_leaf, s))
                          for e, s in o["cases"]]
        elif k == "Mirror":
            o["main"] = _check_outputs(is_last and is_leaf, o["main"])
            o["mirror"] = _check_outputs(is_last and is_leaf, o["mirror"])
    if seq[last]["k"] not in ("DagScope", "DagOutput", "Scatter", "Fork",
                              "DagSwitch", "Mirror"):
        if is_leaf:
            return seq + [{"k": "DagOutput", "name": "main"}]
    return seq


def _zson_literal(e) -> str:
    """ZSON rendering of a primitive literal (semantic converts AST
    primitives to dag.Literal with zson.FormatValue text)."""
    t = e["type"]
    text = e["text"]
    if t == "string":
        return _quoted_string(text)
    if t == "float64":
        from zed_spark.functions.zfloat import format_float64

        return format_float64(float(text))
    return text


# ---------------------------------------------------------------------------
# canonical DAG printer (zfmt/dag.go semantics)


class _CanonDAG(_Fmt):
    def __init__(self):
        super().__init__(tab=2)
        self.head = True
        self.first = True

    def next_op(self):
        if self.first:
            self.first = False
        else:
            self.write("\n")
        self.need_ret = False
        self.write_tab()
        if self.head:
            self.head = False
        else:
            self.write("| ")

    def fieldpath(self, path):
        if not path:
            self.write("this")
            return
        for i, s in enumerate(path):
            if _ID_RE.match(s):
                if i:
                    self.write(".")
                self.write(s)
            else:
                if i == 0:
                    self.write(".")
                self.write('["%s"]' % s)

    def exprs(self, exprs):
        for i, e in enumerate(exprs):
            if i:
                self.write(", ")
            self.expr(e, "")

    def assignments(self, assigns):
        for i, (lhs, rhs) in enumerate(assigns):
            if i:
                self.write(",")
            if lhs is not None:
                self.expr(lhs, "")
                self.write(":=")
            self.expr(rhs, "")

    def expr(self, e, parent: str = ""):
        if e is None:
            self.write("null")
            return
        k = e["k"]
        if k == "Literal":
            self.write(e["text"])
        elif k == "This":
            self.fieldpath(e["path"])
        elif k == "Var":
            self.write(e["name"])
        elif k == "DagSearch":
            self.write("search(%s)" % e["value"])
        elif k == "DagUnary":
            self.write(e["op"])
            self.expr(e["operand"], "not")
        elif k == "DagBin":
            op = e["op"]
            parens = _needs_parens(parent, op)
            if parens:
                self.write("(")
            self.expr(e["lhs"], op)
            if op in ("and", "or", "in"):
                self.write(" %s " % op)
            else:
                self.write(op)
            self.expr(e["rhs"], op)
            if parens:
                self.write(")")
        elif k == "DagDot":
            self.expr(e["lhs"], "")
            self.write(".")
            self.write(e["name"])
        elif k == "DagCond":
            self.write("(")
            self.expr(e["cond"], "")
            self.write(") ? ")
            self.expr(e["then"], "")
            self.write(" : ")
            self.expr(e["else"], "")
        elif k == "DagCall":
            self.write("%s(" % e["name"])
            self.exprs(e["args"])
            self.write(")")
        elif k == "DagAgg":
            self.write("%s(" % e["name"])
            if e["expr"] is not None:
                self.expr(e["expr"], "")
            self.write(")")
            if e.get("where") is not None:
                self.write(" where ")
                self.expr(e["where"], "")
        elif k == "DagIndex":
            self.expr(e["expr"], "")
            self.write("[")
            self.expr(e["index"], "")
            self.write("]")
        elif k == "DagSlice":
            self.expr(e["expr"], "")
            self.write("[")
            if e["from"] is not None:
                self.expr(e["from"], "")
            self.write(":")
            if e["to"] is not None:
                self.expr(e["to"], "")
            self.write("]")
        elif k == "DagRecord":
            self.write("{")
            for i, elem in enumerate(e["elems"]):
                if i:
                    self.write(",")
                if elem[0] == "field":
                    self.write(_quoted_name(elem[1]))
                    self.write(":")
                    self.expr(elem[2], "")
                else:
                    self.write("...")
                    self.expr(elem[1], "")
            self.write("}")
        elif k in ("DagArray", "DagSet"):
            self.write("[" if k == "DagArray" else "|[")
            for i, (t, x) in enumerate(e["elems"]):
                if i:
                    self.write(",")
                if t == "spread":
                    self.write("...")
                self.expr(x, "")
            self.write("]" if k == "DagArray" else "]|")
        elif k == "DagMap":
            self.write("|{")
            for i, (mk, mv) in enumerate(e["entries"]):
                if i:
                    self.write(",")
                self.expr(mk, "")
                self.write(":")
                self.expr(mv, "")
            self.write("}|")
        elif k == "DagOverExpr":
            self.open("(")
            self.ret()
            self.write("over ")
            self.exprs(e["exprs"])
            # NOTE: dag.go's OverExpr case prints defs with neither a
            # " with " prefix nor a separating space (over.yaml DAG
            # golden: `over ab=c`) — reproduced faithfully
            for i, (n, de) in enumerate(e["defs"]):
                if i:
                    self.write(", ")
                self.write("%s=" % n)
                self.expr(de, "")
            self.seq(e["body"])
            self.close()
            self.ret()
            self.flush()
            self.write(")")
        else:
            self.write("(unknown dag expr %s)" % k)

    def seq(self, seq):
        for p in seq:
            self.op(p)

    def op(self, p):
        k = p["k"]
        if k == "DagScope":
            self.next_op()
            self.scope(p)
        elif k in ("Fork", "Scatter"):
            self.next_op()
            self.open("fork (" if k == "Fork" else "scatter (")
            for path in p["paths"]:
                self.ret()
                self.write("=>")
                self.open()
                self.head = True
                self.seq(path)
                self.close()
            self.close()
            self.ret()
            self.flush()
            self.write(")")
        elif k == "Mirror":
            self.next_op()
            self.open("mirror (")
            self.ret()
            for path in (p["mirror"], p["main"]):
                self.ret()
                self.write("=>")
                self.open()
                self.head = True
                self.seq(path)
                self.close()
            self.close()
            self.ret()
            self.flush()
            self.write(")")
        elif k == "DagSwitch":
            self.next_op()
            self.open("switch ")
            if p["expr"] is not None:
                self.expr(p["expr"], "")
                self.write(" ")
            self.open("(")
            for ce, path in p["cases"]:
                self.ret()
                if ce is not None:
                    self.write("case ")
                    self.expr(ce, "")
                else:
                    self.write("default")
                self.write(" =>")
                self.open()
                self.head = True
                self.seq(path)
                self.close()
            self.close()
            self.ret()
            self.flush()
            self.write(")")
        elif k == "DagMerge":
            self.next_op()
            self.write("merge ")
            self.expr(p["expr"], "")
            self.write(":" + p["order"])
        elif k == "DagSummarize":
            self.next_op()
            self.open("summarize")
            if p["partials"] == "in":
                self.write(" partials-in")
            elif p["partials"] == "out":
                self.write(" partials-out")
            if p["sort_dir"]:
                self.write(" sort-dir %d" % p["sort_dir"])
            self.ret()
            self.open()
            self.assignments(p["aggs"])
            if p["keys"]:
                self.write(" by ")
                self.assignments(p["keys"])
            if p["limit"]:
                self.write(" -with limit %d" % p["limit"])
            self.close()
            self.close()
        elif k == "Combine":
            self.next_op()
            self.write("combine")
        elif k == "Cut":
            self.next_op()
            self.write("cut ")
            self.assignments(p["args"])
        elif k == "Drop":
            self.next_op()
            self.write("drop ")
            self.exprs(p["args"])
        elif k == "DagSort":
            self.next_op()
            self.write("sort")
            if p["reverse"]:
                self.write(" -r")
            if p["nullsfirst"]:
                self.write(" -nulls first")
            for i, (e, order) in enumerate(p["args"]):
                if i:
                    self.write(",")
                self.space()
                self.expr(e, "")
                self.write(" %s" % order)
        elif k == "DagLoad":
            self.next_op()
            self.write("load %s" % p["pool"])
            if p["branch"]:
                self.write("@%s" % p["branch"])
            for kw in ("author", "message", "meta"):
                if p[kw]:
                    self.write(" %s %s" % (kw, p[kw]))
        elif k == "Head":
            self.next_op()
            self.write("head %d" % p["count"])
        elif k == "Tail":
            self.next_op()
            self.write("tail %d" % p["count"])
        elif k == "Uniq":
            self.next_op()
            self.write("uniq")
            if p["c"]:
                self.write(" -c")
        elif k == "Filter":
            self.next_op()
            self.open("where ")
            e = p["expr"]
            if e["k"] == "Literal" and e["text"] == "true":
                self.write("*")
            else:
                self.expr(e, "")
            self.close()
        elif k == "DagTop":
            self.next_op()
            self.write("top limit=%d flush=%s " % (
                p["limit"], "true" if p["flush"] else "false"))
            self.exprs(p["args"])
        elif k == "Put":
            self.next_op()
            self.write("put ")
            self.assignments(p["args"])
        elif k == "Rename":
            self.next_op()
            self.write("rename ")
            self.assignments(p["args"])
        elif k == "Fuse":
            self.next_op()
            self.write("fuse")
        elif k == "DagJoin":
            self.next_op()
            self.open("join on ")
            self.expr(p["lk"], "")
            self.write("=")
            self.expr(p["rk"], "")
            if p["args"]:
                self.write(" ")
                self.assignments(p["args"])
            self.close()
        elif k == "Lister":
            self.next_op()
            self.open("lister")
            self.write(" pool %s commit %s" % (p["pool"], p["commit"]))
            if p.get("pruner") is not None:
                self.write(" pruner (")
                self.expr(p["pruner"], "")
                self.write(")")
            self.close()
        elif k == "SeqScan":
            self.next_op()
            self.open("seqscan")
            self.write(" pool %s" % p["pool"])
            if p.get("commit"):
                self.write(" commit %s" % p["commit"])
            if p.get("pruner") is not None:
                self.write(" pruner (")
                self.expr(p["pruner"], "")
                self.write(")")
            if p.get("filter") is not None:
                self.write(" filter (")
                self.expr(p["filter"], "")
                self.write(")")
            self.close()
        elif k == "Slicer":
            self.next_op()
            self.open("slicer")
            self.close()
        elif k == "DagOver":
            self.next_op()
            self.write("over ")
            self.exprs(p["exprs"])
            if p["defs"]:
                self.write(" with ")
                for i, (n, de) in enumerate(p["defs"]):
                    if i:
                        self.write(", ")
                    self.write("%s=" % n)
                    self.expr(de, "")
            if p["body"] is not None:
                self.write(" => (")
                self.open()
                self.head = True
                self.seq(p["body"])
                self.close()
                self.ret()
                self.flush()
                self.write(")")
        elif k == "DagYield":
            self.next_op()
            self.write("yield ")
            self.exprs(p["exprs"])
        elif k == "DefaultScan":
            self.next_op()
            self.write("reader")
            if p.get("filter") is not None:
                self.write(" filter (")
                self.expr(p["filter"], "")
                self.write(")")
        elif k == "FileScan":
            self.next_op()
            self.write("file %s" % p["path"])
            if p["format"]:
                self.write(" format %s" % p["format"])
            if p.get("filter") is not None:
                self.write(" filter (")
                self.expr(p["filter"], "")
                self.write(")")
        elif k == "HTTPScan":
            self.next_op()
            self.write("get %s" % p["url"])
        elif k == "PoolScan":
            self.next_op()
            self.write("pool %s" % p["id"])
        elif k == "PoolMetaScan":
            self.next_op()
            self.write("pool %s:%s" % (p["id"], p["meta"]))
        elif k == "Pass":
            self.next_op()
            self.write("pass")
        elif k == "DagOutput":
            self.next_op()
            self.write("output %s" % p["name"])
        else:
            self.next_op()
            self.write("unknown proc: %s" % k)

    def scope(self, s):
        first = self.first
        if not first:
            self.open("(")
            self.ret()
            self.flush()
        for name, e in s["consts"]:
            self.write("const %s = " % name)
            self.expr(e, "")
            self.ret()
            self.flush()
        for name, params, body in s["funcs"]:
            self.write("func %s(" % name)
            for i, pname in enumerate(params):
                if i:
                    self.write(", ")
                self.write(pname)
            self.open("): (")
            self.ret()
            self.expr(body, name)
            self.close()
            self.ret()
            self.flush()
            self.write(")")
            self.ret()
            self.flush()
        self.head = True
        self.seq(s["body"])
        if not first:
            self.close()
            self.ret()
            self.flush()
            self.write(")")


def format_dag(seq) -> str:
    c = _CanonDAG()
    c.seq(seq)
    c.flush()
    return c.result()


def semantic(src: str, env=None) -> str:
    """`super dev compile -C -s`: parse + semantic + DAG print."""
    return format_dag(_Sem(env).analyze(parse_ast(src)))


# ---------------------------------------------------------------------------
# optimizer (-O): pass removal, filter merge, filter pushdown into
# source scans (compiler/optimizer semantics for the print surface)

_SCAN_KINDS = ("DefaultScan", "FileScan", "SeqScan")


def _and(a, b):
    return {"k": "DagBin", "op": "and", "lhs": a, "rhs": b}


def optimize_dag(seq: list) -> list:
    # recurse into sub-sequences first
    out: list = []
    for p in seq:
        k = p["k"]
        if k == "DagScope":
            p = dict(p, body=optimize_dag(p["body"]))
        elif k in ("Fork", "Scatter"):
            p = dict(p, paths=[optimize_dag(s) for s in p["paths"]])
        elif k == "DagSwitch":
            p = dict(p, cases=[(e, optimize_dag(s))
                               for e, s in p["cases"]])
        elif k == "DagOver" and p["body"] is not None:
            p = dict(p, body=optimize_dag(p["body"]))
        elif k == "Mirror":
            p = dict(p, main=optimize_dag(p["main"]),
                     mirror=optimize_dag(p["mirror"]))
        out.append(p)
    # remove pass ops (keep at least one op)
    removed = [p for p in out if p["k"] != "Pass"]
    if removed:
        out = removed
    # merge adjacent filters
    merged: list = []
    for p in out:
        if p["k"] == "Filter" and merged and merged[-1]["k"] == "Filter":
            merged[-1] = {"k": "Filter",
                          "expr": _and(merged[-1]["expr"], p["expr"])}
        else:
            merged.append(p)
    out = merged
    # push a filter FOLLOWING a fork of pure sources into each leg
    pushed: list = []
    i = 0
    while i < len(out):
        p = out[i]
        if (
            p["k"] == "Fork"
            and i + 1 < len(out)
            and out[i + 1]["k"] == "Filter"
            and all(s and s[0]["k"] in _SCAN_KINDS for s in p["paths"])
        ):
            f = out[i + 1]
            paths = [optimize_dag(s + [f]) for s in p["paths"]]
            pushed.append(dict(p, paths=paths))
            i += 2
            continue
        pushed.append(p)
        i += 1
    out = pushed
    # push a leading filter into the preceding source scan
    final: list = []
    for p in out:
        if (
            p["k"] == "Filter"
            and final
            and final[-1]["k"] in _SCAN_KINDS
        ):
            prev = final[-1].get("filter")
            f = p["expr"] if prev is None else _and(prev, p["expr"])
            final[-1] = dict(final[-1], filter=f)
        else:
            final.append(p)
    return final


def dev_compile(src: str, canon: bool = True, sem: bool = False,
                opt: bool = False, par: int = 0, env=None) -> str:
    """The `super dev compile` surface: returns the printed form(s).

    -C alone prints the canonical AST; adding -s / -O / -P prints the
    semantic / optimized / parallelized DAG instead (command.go).
    """
    seq = parse_ast(src)
    if not (sem or opt or par):
        return format_ast(seq)
    dag = _Sem(env).analyze(seq)
    if opt or par:
        dag = optimize_dag(dag)
        dag = _lower_pool_scans(dag)
    if par:
        dag = parallelize_dag(dag, par)
    return format_dag(dag)


# ---------------------------------------------------------------------------
# lake lowering + parallelizer (-O / -P over pool scans)


def _conjuncts(e) -> list:
    if e["k"] == "DagBin" and e["op"] == "and":
        return _conjuncts(e["lhs"]) + _conjuncts(e["rhs"])
    return [e]


def _key_pruner(filt, key: str):
    """Range predicates on the pool key become the object pruner:
    `key >= L` prunes objects with compare(L, max, true)>0 and
    `key <= U` with compare(U, min, true)<0, OR-joined (the
    reference optimizer's inverted-range test)."""
    if filt is None:
        return None
    clauses = []
    for c in _conjuncts(filt):
        if c["k"] != "DagBin":
            continue
        lhs, rhs, op = c["lhs"], c["rhs"], c["op"]
        if not (lhs.get("k") == "This" and lhs["path"] == [key]
                and rhs.get("k") == "Literal"):
            continue
        lit = {"k": "Literal", "text": rhs["text"]}
        if op in (">=", ">"):
            clauses.append({
                "k": "DagBin", "op": ">",
                "lhs": {"k": "DagCall", "name": "compare",
                        "args": [lit, {"k": "This", "path": ["max"]},
                                 {"k": "Literal", "text": "true"}]},
                "rhs": {"k": "Literal", "text": "0"},
            })
        elif op in ("<=", "<"):
            clauses.append({
                "k": "DagBin", "op": "<",
                "lhs": {"k": "DagCall", "name": "compare",
                        "args": [lit, {"k": "This", "path": ["min"]},
                                 {"k": "Literal", "text": "true"}]},
                "rhs": {"k": "Literal", "text": "0"},
            })
    if not clauses:
        return None
    acc = clauses[0]
    for c in clauses[1:]:
        acc = {"k": "DagBin", "op": "or", "lhs": acc, "rhs": c}
    return acc


def _lower_pool_scans(seq: list) -> list:
    """-O/-P: a PoolScan becomes lister | slicer | seqscan, with the
    following filter pushed into the seqscan and its pool-key range
    clauses compiled to a pruner on both lister and seqscan; a
    summarize directly downstream whose keys bucket the pool key
    (every) runs with sort-dir 1 (sem-groupby-input-dir)."""
    out: list = []
    i = 0
    while i < len(seq):
        p = seq[i]
        k = p["k"]
        if k == "DagScope":
            out.append(dict(p, body=_lower_pool_scans(p["body"])))
            i += 1
            continue
        if k in ("Fork", "Scatter"):
            out.append(dict(p, paths=[_lower_pool_scans(s)
                                      for s in p["paths"]]))
            i += 1
            continue
        if k != "PoolScan":
            out.append(p)
            i += 1
            continue
        key = p.get("key", "ts")
        filt = None
        j = i + 1
        if j < len(seq) and seq[j]["k"] == "Filter":
            filt = seq[j]["expr"]
            j += 1
        pruner = _key_pruner(filt, key)
        out.append({"k": "Lister", "pool": p["id"],
                    "commit": p.get("commit") or p["id"],
                    "pruner": pruner})
        out.append({"k": "Slicer"})
        out.append({"k": "SeqScan", "pool": p["id"], "commit": "",
                    "pruner": pruner, "filter": filt,
                    "key": key, "order": p.get("order", "asc")})
        if j < len(seq) and seq[j]["k"] == "DagSummarize" and any(
            rhs.get("k") == "DagCall" and rhs["name"] == "every"
            for _lhs, rhs in seq[j]["keys"]
        ):
            seq[j] = dict(seq[j], sort_dir=1)
        i = j
    return out


def parallelize_dag(seq: list, n: int) -> list:
    """-P N: split an ordered pool scan into N scatter legs with a
    merge (order preserved) or combine (order lost), pushing
    parallelizable ops into the legs and summarizes into
    partials-out / partials-in pairs (the reference parallelizer's
    print-visible behavior, compiler/ztests/par-*)."""
    out: list = []
    i = 0
    while i < len(seq):
        p = seq[i]
        k = p["k"]
        if k == "DagScope":
            out.append(dict(p, body=parallelize_dag(p["body"], n)))
            i += 1
            continue
        if k == "Fork":
            out.append(dict(p, paths=[parallelize_dag(s, n)
                                      for s in p["paths"]]))
            i += 1
            continue
        if not (
            k == "Lister"
            and i + 2 < len(seq)
            and seq[i + 1]["k"] == "Slicer"
            and seq[i + 2]["k"] == "SeqScan"
        ):
            out.append(p)
            i += 1
            continue
        lister, scan = p, seq[i + 2]
        rest = seq[i + 3 :]
        followers = [o for o in rest if o["k"] != "DagOutput"]
        if not followers and scan.get("filter") is None:
            # a bare pool scan is not parallelized (par-join comment)
            out.extend(seq[i : i + 3])
            i += 3
            continue
        key = [scan.get("key", "ts")]
        order = scan.get("order", "asc")
        from_pool = True  # ordering still derives from the pool key
        legs: list = [scan]
        post: list = []
        j = 0
        while j < len(rest):
            op = rest[j]
            ok = op["k"]
            if ok == "Cut":
                if key is not None:
                    newkey = None
                    for lhs, rhs in op["args"]:
                        if rhs.get("k") == "This" and rhs["path"] == key:
                            newkey = lhs["path"]
                            break
                    key = newkey
                legs.append(op)
            elif ok in ("Put", "Filter", "Drop"):
                if ok == "Put" and key is not None and any(
                    lhs.get("k") == "This" and lhs["path"] == key
                    for lhs, _r in op["args"]
                ):
                    key = None
                if ok == "Drop" and key is not None and any(
                    e.get("k") == "This" and e["path"] == key
                    for e in op["args"]
                ):
                    key = None
                legs.append(op)
            elif ok == "Rename":
                if key is not None:
                    for lhs, rhs in op["args"]:
                        if rhs.get("k") == "This" and rhs["path"] == key:
                            key = lhs["path"]
                            break
                legs.append(op)
            elif ok == "DagSort":
                if not op["args"]:
                    # bare sort destroys order and cannot split
                    key = None
                    from_pool = False
                    break
                legs.append(op)
                e0, order = op["args"][0]
                key = e0["path"] if e0.get("k") == "This" else None
                from_pool = False
                j += 1
                break
            elif ok == "DagSummarize":
                sort_dir = op.get("sort_dir", 0)
                keeps_order = sort_dir == 1 or (
                    key is not None
                    and any(lhs.get("k") == "This" and lhs["path"] == key
                            for lhs, _r in op["keys"])
                )
                legs.append(dict(op, partials="out",
                                 sort_dir=1 if keeps_order else 0))
                keys_in = [(lhs, {"k": "This", "path": list(lhs["path"])})
                           for lhs, _r in op["keys"]]
                post.append(dict(op, partials="in", keys=keys_in,
                                 sort_dir=1 if keeps_order else 0))
                if not keeps_order:
                    key = None
                    from_pool = False
                j += 1
                break
            elif ok in ("Head", "Tail"):
                legs.append(op)
                post.append(op)
                j += 1
                break
            else:
                break
            j += 1
        post += rest[j:]
        out.append(lister)
        if key is not None and from_pool:
            out.append({"k": "Slicer"})
        out.append({"k": "Scatter", "paths": [list(legs)
                                              for _ in range(n)]})
        if key is not None:
            out.append({"k": "DagMerge",
                        "expr": {"k": "This", "path": key},
                        "order": order})
        else:
            out.append({"k": "Combine"})
        out.extend(parallelize_dag(post, n) if any(
            o["k"] == "Fork" for o in post
        ) else post)
        return out
    return out


# ---------------------------------------------------------------------------
# JSON DAG marshal (the non-canonical `super dev compile` output — the
# reference dag package's kind-tagged JSON, subset)

_JSON_KINDS = {
    "DagScope": "Scope", "Fork": "Fork", "Scatter": "Scatter",
    "DagSwitch": "Switch", "DagMerge": "Merge", "Combine": "Combine",
    "DagSummarize": "Summarize", "Cut": "Cut", "Drop": "Drop",
    "DagSort": "Sort", "Head": "Head", "Tail": "Tail", "Uniq": "Uniq",
    "Filter": "Filter", "Put": "Put", "Rename": "Rename",
    "Fuse": "Fuse", "DagJoin": "Join", "Lister": "Lister",
    "SeqScan": "SeqScan", "Slicer": "Slicer", "DagOver": "Over",
    "DagYield": "Yield", "DefaultScan": "DefaultScan",
    "FileScan": "FileScan", "HTTPScan": "HTTPScan",
    "PoolScan": "PoolScan", "Pass": "Pass", "DagOutput": "Output",
    "Mirror": "Mirror", "DagTop": "Top", "DagLoad": "Load",
    # exprs
    "DagBin": "BinaryExpr", "DagUnary": "UnaryExpr",
    "DagCall": "Call", "DagAgg": "Agg", "DagCond": "Conditional",
    "DagIndex": "IndexExpr", "DagSlice": "SliceExpr",
    "DagRecord": "RecordExpr", "DagArray": "ArrayExpr",
    "DagSet": "SetExpr", "DagMap": "MapExpr", "DagSearch": "Search",
    "This": "This", "Literal": "Literal", "Var": "Var",
    "DagOverExpr": "OverExpr", "DagDot": "DotExpr",
}


def _dag_to_json(node):
    if isinstance(node, list):
        return [_dag_to_json(x) for x in node]
    if isinstance(node, tuple):
        # assignment pair
        lhs, rhs = node
        return {"kind": "Assignment", "lhs": _dag_to_json(lhs),
                "rhs": _dag_to_json(rhs)}
    if not isinstance(node, dict):
        return node
    k = node.get("k")
    out = {"kind": _JSON_KINDS.get(k, k)}
    for key, v in node.items():
        if key == "k":
            continue
        jkey = {"text": "value", "value": "value"}.get(key, key)
        out[jkey] = _dag_to_json(v)
    return out


def dag_json(src: str, opt: bool = False, par: int = 0, env=None) -> str:
    """`super dev compile` without -C: the kind-tagged JSON DAG."""
    import json as _json

    seq = parse_ast(src)
    dag = _Sem(env).analyze(seq)
    if opt or par:
        dag = optimize_dag(dag)
        dag = _lower_pool_scans(dag)
    if par:
        dag = parallelize_dag(dag, par)
    return _json.dumps(_dag_to_json(dag), indent=4)
