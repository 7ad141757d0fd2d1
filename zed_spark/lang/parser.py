"""The zed query-language parser: the engine's one reader of query text.

Query text goes through two steps before the compiler sees it:

    text --parse_ast--> dict AST --lower--> tuple AST --> Compiler

`parse_ast` is a recursive-descent parser over the lexer's tokens. It
emits dicts `{"k": kind, ...}` shaped like the reference's `ast`
package (compiler/parser/parser.peg, ast/ast.go). That AST is what
`POST /compile` returns and what the zfmt printers format, so it keeps
surface detail: literal text, implied versus explicit counts, search
terms.

`lower` is one pass over that AST. It does the semantic work the
compiler relies on and emits the plain-tuple AST `Compiler` consumes:

  pipeline: op nodes, led by ('decls', funcs, consts, user_ops, types)
            when the query declares anything
  op nodes: ('from',name[,fmt]) ('where',e) ('search',term) ('cut',[..])
            ('put',[(path,e)]) ('drop',[path]) ('rename',[(new,old)])
            ('summarize',[aggs],[keys],every) ('sort',keys,desc,nulls)
            ('head',n) ('tail',n) ('top',n,[k]) ('uniq',count) ('fuse',)
            ('yield',[e]) ('over',e,with,body) ('join',kind,lk,rk,cut,sub)
            ('scope',ops,consts,funcs) ('opcall',name,args) ...
  exprs:    ('num',v) ('str',s) ('bool',b) ('null',) ('time',s) ('dur',s)
            ('field',[parts]) ('this',) ('bin',op,l,r) ('un',op,e)
            ('call',name,[args]) ('cond',c,t,f) ('index',e,i)
            ('slice',e,lo,hi) ('record',[(n,e)]) ('array',[e]) ('in',l,r)

Lowering owns per-scope declarations ('symbol redefined'), the const
variable-dependency check, head/tail count folding and user-op call
resolution. `parse(text)` is `lower(parse_ast(text))`.
"""

from __future__ import annotations

import json
import operator
import re

from zed_spark.lang.lexer import Token, tokenize

# aggregate functions the compiler implements (implied summarize)
AGG_FNS = {
    "count", "sum", "avg", "min", "max", "any", "dcount", "collect",
    "union", "and", "or", "collect_map", "fuse",
}

# names the printers treat as aggregate calls (zfmt isAggFunc)
_AGG_NAMES = AGG_FNS | {"countdistinct", "first", "last"}

# shaping operators with an inline type argument: `shape {a:int64}`
_SHAPERS = {"shape", "cast", "crop", "fit", "order", "fill"}

_OP_KEYWORDS = _SHAPERS | {
    "from", "file", "get", "where", "filter", "search", "cut", "drop",
    "put", "rename", "summarize", "sort", "head", "tail", "top", "uniq",
    "fuse", "yield", "over", "join", "switch", "fork", "merge", "pass",
    "output", "debug", "load", "assert", "explode", "by", "inner",
    "left", "right", "anti",
}

# tokens that, right after a search term, make it an expression
_EXPR_FOLLOW = {
    "==", "!=", "<", "<=", ">", ">=", "in", "+", "-", "/", "%", "*",
    "?", ":=", "=",
}

_NET_RE = re.compile(r"[\d.]+/\d+|[0-9a-fA-F:]*:[0-9a-fA-F:]*/\d+")

_URL_OR_QUOTED = re.compile(
    r"\"(?:\\.|[^\"\\])*\"?|'(?:\\.|[^'\\])*'?|https?://[^\s|)]*"
)


def _mask_urls(src: str) -> str:
    """Replace bare (unquoted) http(s)://... runs with a same-length
    identifier so the lexer doesn't read `//` as a comment; _pattern
    slices the ORIGINAL source text back out by token position."""
    return _URL_OR_QUOTED.sub(
        lambda m: m[0] if m[0][0] in "\"'" else "U" * len(m[0]), src
    )


def _assign(lhs, rhs) -> dict:
    return {"k": "Assign", "lhs": lhs, "rhs": rhs}


class _Parser:
    """Recursive descent over the token stream, emitting the dict AST."""

    def __init__(self, src: str):
        self.src = src
        self.toks = tokenize(_mask_urls(src))
        self.i = 0
        # inside a from-block trunk, a bare file/get/pool keyword
        # starts the NEXT trunk (parser.peg from-block scoping)
        self.trunk_depth = 0
        self.terms = 0  # search terms seen by the current search()

    # --- token helpers
    def peek(self, k: int = 0) -> Token:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self) -> Token:
        t = self.toks[self.i]
        if t.kind != "EOF":
            self.i += 1
        return t

    def at(self, text: str) -> bool:
        return self.peek().text == text and self.peek().kind in ("OP", "ID")

    def eat(self, text: str) -> bool:
        if self.at(text):
            self.next()
            return True
        return False

    def expect(self, text: str) -> Token:
        t = self.next()
        if t.text != text or t.kind not in ("OP", "ID"):
            raise SyntaxError(f"expected {text!r}, got {t.text!r} at {t.pos}")
        return t

    def done(self) -> bool:
        return self.peek().kind == "EOF"

    def listed(self, item, close: str | None = None) -> list:
        """`item (, item)*`; given `close`, a possibly empty list that
        the closing token ends."""
        out = []
        if close is None or not self.at(close):
            out.append(item())
            while self.eat(","):
                out.append(item())
        if close is not None:
            self.expect(close)
        return out

    def _at_op_end(self) -> bool:
        t = self.peek()
        if t.kind == "ID":
            return t.text in ("case", "default") or (
                self.trunk_depth > 0 and t.text in ("file", "get", "pool")
            )
        return t.kind == "EOF" or t.text in ("|", ")", "=>")

    # --- sequences and declarations
    def parse(self) -> list:
        seq = self.seq()
        if not self.done():
            t = self.peek()
            raise SyntaxError(f"trailing input at {t.pos}: {t.text!r}")
        return seq

    def seq(self) -> list:
        """Ops joined by `|`. Declarations may open the sequence or
        follow any pipe; they wrap the ops after them in a Scope."""
        decls = self.decls()
        ops = self._piped([self.op()])
        if decls:
            return [{"k": "Scope", "decls": decls, "body": ops}]
        return ops

    def branch_seq(self) -> list:
        """A fork/switch leg or from-trunk."""
        return self.seq() if self._at_decl() else self._piped([self.op()])

    def _piped(self, ops: list) -> list:
        """Append the ops after each pipe to ops."""
        while self.eat("|") or self.eat("|>"):
            if self._at_decl():
                ops.append(self.seq()[0])
                break
            ops.append(self.op())
        return ops

    def _at_decl(self) -> bool:
        t = self.peek()
        if t.kind != "ID" or self.peek(1).kind != "ID":
            return False
        return t.text in ("const", "func", "op") or (
            t.text == "type" and self.peek(2).text == "="
        )

    def decls(self) -> list:
        out = []
        while self._at_decl():
            word, name = self.next().text, self.next().text
            if word in ("const", "type"):
                self.expect("=")
                out.append((word, name, self.expr() if word == "const" else self.type_text()))
                continue
            self.expect("(")
            params = self.listed(lambda: self.next().text, ")")
            self.expect(":")
            self.expect("(")
            body = self.expr() if word == "func" else self.seq()
            self.expect(")")
            out.append((word, name, params, body))
        return out

    def type_text(self) -> str:
        """Consume a type expression, returning its raw source text."""
        start = self.peek().pos
        self.type_expr()
        end = self.toks[self.i - 1]
        return self.src[start : end.pos + len(end.text)]

    def type_expr(self) -> tuple:
        """Type syntax: primitive or named ref, [elem] array, |[elem]|
        set, |{key:val}| map, (a,b) union, {field:type,...} record."""
        t = self.next()
        if t.text == "[":
            inner = self.type_expr()
            self.expect("]")
            return ("array", inner)
        if t.text == "|":
            if self.eat("["):
                inner = self.type_expr()
                self.expect("]")
                self.expect("|")
                return ("settype", inner)
            self.expect("{")
            kt = self.type_expr()
            self.expect(":")
            vt = self.type_expr()
            self.expect("}")
            self.expect("|")
            return ("maptype", kt, vt)
        if t.text == "(":
            return ("uniontype", self.listed(self.type_expr, ")"))
        if t.text == "{":
            def field():
                name = self.next().text
                self.expect(":")
                return (name, self.type_expr())

            return ("recordtype", self.listed(field, "}"))
        if self.at("=") and self.peek(1).text != "=":
            # inline named-type definition `port=uint16` inside a type
            # expression (zson.md named types) — names widen to the
            # underlying type in this model (SURVEY §1.2)
            self.next()
            return self.type_expr()
        return ("prim", t.text)

    # --- operators
    def op(self) -> dict:
        t = self.peek()
        if t.kind == "ID" and t.text in _OP_KEYWORDS:
            node = getattr(self, "op_" + t.text)()
            if node is not None:
                return node
        if t.text == "(" and t.kind == "OP":
            # parenthesized scoped sub-sequence; without declarations
            # it may also be a parenthesized search expression
            save = self.i
            self.next()
            decls = self._at_decl()
            try:
                body = self.seq()
                self.expect(")")
                if decls or self._at_op_end():
                    if len(body) == 1 and body[0]["k"] == "Scope" and not body[0]["decls"]:
                        return body[0]  # ((...)) is one scope
                    return {"k": "Scope", "decls": [], "body": body}
            except SyntaxError:
                if decls:
                    raise
            self.i = save
        return self.op_expr()

    def op_from(self) -> dict:
        self.next()
        if self.eat("("):
            trunks = []
            while not self.eat(")"):
                src = self.source()
                sub = None
                if self.eat("=>"):
                    self.trunk_depth += 1
                    sub = self.branch_seq()
                    self.trunk_depth -= 1
                trunks.append((src, sub))
            return {"k": "From", "trunks": trunks}
        node = self.pool_source()
        if self.at("format") and self.peek(1).kind in ("ID", "STR"):
            # `from x.zson format json` — explicit input format
            self.next()
            node["format"] = self.next().text.strip('"')
        return node

    def source(self) -> dict:
        t = self.peek()
        if t.text in ("file", "get"):
            return getattr(self, "op_" + t.text)()
        if t.text in ("pool", "from"):
            self.next()
        return self.pool_source()

    def _pattern(self, stops: tuple = ()):
        """A source pattern: quoted string, glob, regexp, or a run of
        ADJACENT tokens (no intervening whitespace) sliced raw from
        the source so URLs like http://host/path stay intact.  Pools
        pass stops=("@", ":") so name@commit:meta splits."""
        t = self.peek()
        if t.kind in ("STR", "REGEX"):
            self.next()
            return ("string" if t.kind == "STR" else "regexp", t.text[1:-1])
        start = end = t.pos
        while not self.done():
            t = self.peek()
            if end != start and (t.pos != end or (t.kind == "OP" and t.text in stops)):
                break  # whitespace gap or a stop token ends the pattern
            if t.kind == "OP" and t.text in ("|", ")", "=>"):
                break
            self.next()
            end = t.pos + len(t.text)
        text = self.src[start:end]
        if not text:
            t = self.peek()
            raise SyntaxError(f"unexpected token {t.text!r} at {t.pos}")
        return ("glob" if "*" in text else "string", text)

    def pool_source(self) -> dict:
        pat = self._pattern(stops=("@", ":"))
        commit = self._pattern(stops=(":",))[1] if self.eat("@") else ""
        meta = ""
        if self.at(":") and self.peek(1).kind == "ID":
            self.next()
            meta = self.next().text
        return {"k": "Pool", "pool": pat, "commit": commit, "meta": meta}

    def op_file(self) -> dict:
        self.next()
        pat = self._pattern()
        fmt = self.next().text if self.eat("format") else ""
        return {"k": "File", "path": pat, "format": fmt}

    def op_get(self) -> dict:
        self.next()
        node = {"k": "HTTP", "url": self._pattern(), "format": "",
                "method": "", "headers": None, "body": ""}
        while self.peek().kind == "ID" and self.peek().text in node:
            key = self.next().text
            if key == "headers":
                node[key] = self.expr()
                continue
            t = self.next()
            strip = t.kind == "STR" and key != "format"
            node[key] = t.text[1:-1] if strip else t.text
        return node

    def op_where(self) -> dict:
        self.next()
        return {"k": "Where", "expr": self.expr()}

    op_filter = op_where  # `filter` is the reference's alias for where

    def op_search(self) -> dict:
        self.next()
        return {"k": "Search", "expr": self.search()}

    def op_assert(self) -> dict:
        self.next()
        start = self.peek().pos
        e = self.expr()
        # the raw expression text rides along: a failing row's error
        # carries it (op/assert.go: {message, expr, on})
        text = self.src[start : self.peek().pos].strip()
        return {"k": "Assert", "expr": e, "text": text}

    def op_cut(self) -> dict:
        self.next()
        return {"k": "Cut", "args": self.assignments()}

    def op_drop(self) -> dict:
        self.next()
        return {"k": "Drop", "args": self.listed(self.expr)}

    def op_put(self) -> dict:
        kind = self.next().text.capitalize()
        return {"k": kind, "args": self.listed(lambda: self.assignment(True))}

    op_rename = op_put

    def op_summarize(self) -> dict:
        self.next()
        return self._summarize(self.assignments())

    def op_by(self) -> dict:
        # `by key,...` — summarize shorthand for distinct keys
        self.next()
        return self._summarize([], by=True)

    def _summarize(self, aggs: list, by: bool = False) -> dict:
        keys = self.assignments() if by or self.eat("by") else []
        return self._limit(
            {"k": "Summarize", "aggs": aggs, "keys": keys, "limit": 0}
        )

    def _limit(self, node: dict) -> dict:
        if self.at("with") and self.peek(1).text == "-":
            # `with -limit N` tunes the reference's partials spill
            # threshold (groupby.go); Spark's HashAggregate owns
            # partial/final decomposition, so it is parsed and kept
            self.next()
            self.next()
            self.expect("limit")
            node["limit"] = int(self.next().text)
        return node

    def op_sort(self) -> dict:
        self.next()
        rev, nulls = False, ""
        while self.eat("-"):
            flag = self.next().text
            if flag == "r":
                rev = True
            elif flag == "nulls":
                nulls = self.next().text
                if nulls not in ("first", "last"):
                    raise SyntaxError(
                        f"sort -nulls: expected first|last, got {nulls!r}"
                    )
            else:
                raise SyntaxError(f"unknown sort flag -{flag}")

        def key():
            e = self.expr()
            t = self.peek()
            order = self.next().text if t.kind == "ID" and t.text in ("asc", "desc") else None
            return (e, order)

        args = [] if self._at_op_end() else self.listed(key)
        node = {"k": "Sort", "reverse": rev, "nullsfirst": nulls == "first",
                "args": args}
        if nulls == "last":
            node["nulls"] = nulls
        return node

    def op_head(self) -> dict:
        kind = self.next().text.capitalize()
        return {"k": kind, "count": None if self._at_op_end() else self.expr()}

    op_tail = op_head

    def op_top(self) -> dict:
        self.next()
        t = self.next()
        if t.kind != "NUM":
            raise SyntaxError(f"top: expected a count, got {t.text!r} at {t.pos}")
        return {"k": "Top", "limit": int(t.text), "flush": False,
                "args": self.listed(self.expr)}

    def op_uniq(self) -> dict:
        self.next()
        c = self.eat("-")
        if c and self.next().text != "c":
            raise SyntaxError("unknown uniq flag")
        return {"k": "Uniq", "c": c}

    def op_fuse(self):
        if self.peek(1).text == "(":
            return None  # fuse(e) is the aggregate form (agg/fuse.go)
        self.next()
        return {"k": "Fuse"}

    def op_pass(self) -> dict:
        self.next()
        return {"k": "Pass"}

    def op_yield(self) -> dict:
        self.next()
        return {"k": "Yield", "exprs": self.listed(self.expr)}

    def op_output(self):
        # `output <name>` names the fork leg's channel
        if self.peek(1).kind != "ID":
            return None
        self.next()
        return {"k": "Output", "name": self.next().text}

    def op_debug(self) -> dict:
        self.next()
        return {"k": "Debug", "expr": None if self._at_op_end() else self.expr()}

    def op_merge(self) -> dict:
        self.next()
        exprs = self.listed(self.expr)
        node = {"k": "Merge", "expr": exprs[0]}
        if len(exprs) > 1:
            node["exprs"] = exprs
        return node

    def op_load(self) -> dict:
        # terminal lake write: load pool[@branch] [author "a"]
        # [message "m"] [meta "x"] (docs/language/operators/load.md)
        self.next()
        t = self.next()
        ref = t.text[1:-1] if t.kind == "STR" else t.text
        while t.kind != "STR" and not self._at_op_end() and (
            self.peek().text in (".", "/", "-", "@", ":")
            or self.peek().kind in ("ID", "NUM")
        ) and self.peek().text not in ("author", "message", "meta"):
            ref += self.next().text
        pool, _, branch = ref.partition("@")
        node = {"k": "Load", "pool": pool, "branch": branch, "author": "",
                "message": "", "meta": ""}
        while self.peek().kind == "ID" and self.peek().text in (
            "author", "message", "meta",
        ):
            which, tok = self.next().text, self.next()
            if tok.kind != "STR":
                raise SyntaxError(
                    f"load: {which} requires a quoted string, got {tok.text!r}"
                )
            node[which] = tok.text[1:-1]
        return node

    def op_over(self) -> dict:
        self.next()
        exprs = self.listed(self.expr)

        def local():
            # bare `with b` is shorthand for b=b (over.md)
            name = self.next().text
            return (name, self.expr() if self.eat("=") else {"k": "ID", "name": name})

        locals_ = self.listed(local) if self.eat("with") else []
        body = None
        if self.eat("=>"):
            self.expect("(")
            body = self.seq()
            self.expect(")")
        return {"k": "Over", "exprs": exprs, "locals": locals_, "body": body}

    def op_fork(self) -> dict:
        self.next()
        self.expect("(")
        paths = []
        while self.eat("=>"):
            paths.append(self.branch_seq())
        self.expect(")")
        return {"k": "Parallel", "paths": paths}

    def op_switch(self) -> dict:
        self.next()
        expr = None
        if not self.at("("):
            # `switch x ( case ...` — a path directly before the case
            # block is the selector, not a call
            path = self.peek().kind == "ID" and not (
                self.peek(1).text == "("
                and self.peek(2).text not in ("case", "default")
            )
            expr = self.postfix_expr(calls=False) if path else self.expr()
        self.expect("(")
        cases = []
        while self.at("case") or self.at("default"):
            ce = _to_search(self.expr()) if self.next().text == "case" else None
            self.expect("=>")
            cases.append((ce, self.branch_seq()))
        self.expect(")")
        return {"k": "Switch", "expr": expr, "cases": cases}

    def op_inner(self):
        if self.peek(1).text != "join":
            return None
        return self.op_join(self.next().text)

    op_left = op_right = op_anti = op_inner

    def _paren_then_on(self, k: int) -> bool:
        """Lookahead: does the paren group starting at offset k close
        with `on` right after? (join-operator vs join-function)"""
        depth = 0
        while self.peek(k).kind != "EOF":
            t = self.peek(k)
            depth += {"(": 1, ")": -1}.get(t.text, 0)
            if t.text == ")" and depth == 0:
                return self.peek(k + 1).text == "on"
            k += 1
        return False

    def op_join(self, style: str = ""):
        if not style and self.peek(1).text == "(" and not self._paren_then_on(1):
            return None  # join(arr, sep) is the string function
        self.expect("join")
        if self.eat("kind"):
            self.expect("=")
            style = self.next().text
        right = None
        if self.eat("("):
            right = self.seq()
            self.expect(")")
        self.expect("on")
        lk = self.expr()
        rk = self.expr() if self.eat("=") else None
        args = None if self._at_op_end() else self.assignments()
        return {"k": "Join", "style": style, "right": right, "lk": lk,
                "rk": rk, "args": args}

    def op_explode(self) -> dict:
        # explode <expr-list> by <type> [as <path>]
        # (runtime/sam/op/explode/explode.go)
        self.next()
        args = self.listed(self.expr)
        self.expect("by")
        ty = self.type_text()
        path = self.postfix_expr(calls=False) if self.eat("as") else None
        return {"k": "Explode", "args": args, "type": ty, "as": path}

    def op_shape(self):
        """`shape {a:int64}` and its siblings; the words stay usable
        as field names (`order := 5`) and calls (`cast(v, t)`)."""
        nxt = self.peek(1)
        if nxt.text in ("{", "[") or (
            nxt.kind == "ID" and self.peek(2).text not in (":=", "(", ".")
        ):
            word = self.next().text
            return {"k": "Shaper", "op": word, "type": self.type_text()}
        return None

    op_cast = op_crop = op_fit = op_order = op_fill = op_shape

    def op_expr(self) -> dict:
        """Ambiguous op-position expression: an assignment list (put or
        summarize), an aggregate list, or a search/expression."""
        save = self.i
        try:
            assigns = self.assignments(first_assign=True)
            if self._at_op_end():
                return {"k": "OpAssignment", "assigns": assigns}
            if (self.at("by") or self.at("with")) and all(
                _is_agg_call(a["rhs"]) for a in assigns
            ):
                return self._summarize(assigns)
        except SyntaxError:
            pass
        self.i = save
        e = self.search()
        if _is_agg_call(e) and (self.at(",") or self.at("with")):
            # `sum(x), max(x) [by k]` (implied summarize)
            aggs = [_assign(None, e)]
            while self.eat(","):
                aggs.append(self.assignment())
            return self._summarize(aggs)
        if _is_agg_call(e) and self.eat("by"):
            # `count() by k` shorthand (implied summarize)
            keys = self.assignments()
            return self._limit({"k": "Summarize", "keys": keys, "limit": 0,
                                "aggs": [_assign(None, e)]})
        return {"k": "OpExpr", "expr": e}

    def assignments(self, first_assign: bool = False) -> list:
        """A comma list of `lhs:=rhs` or bare expressions."""
        out = [self.assignment(first_assign)]
        while self.eat(","):
            out.append(self.assignment())
        return out

    def assignment(self, required: bool = False) -> dict:
        lhs = self.expr()
        if self.eat(":="):
            return _assign(lhs, self.expr())
        if required:
            t = self.peek()
            raise SyntaxError(f"expected ':=', got {t.text!r} at {t.pos}")
        return _assign(None, lhs)

    # --- search expressions (op position)
    def search(self) -> dict:
        """Search expression: adjacent factors imply AND; factors are
        bare terms, globs, regexps, quoted strings or comparisons."""
        start, self.terms = self.i, 0
        e = self._search_or()
        if not self.terms and _count_factors(e) == 1:
            # a lone non-term factor is a plain expression: re-parse
            # with the full grammar (conditionals etc.)
            self.i = start
            return _to_search(self.expr())
        return e

    def _search_or(self) -> dict:
        e = self._search_and()
        while self.peek().kind == "ID" and self.peek().text.lower() == "or":
            self.next()
            e = _bin("or", e, self._search_and())
        return e

    def _search_and(self) -> dict:
        e = self._search_not()
        while True:
            t = self.peek()
            low = t.text.lower() if t.kind == "ID" else ""
            if low == "and":
                self.next()
                e = _bin("and", e, self._search_not())
            elif self._at_op_end() or low in ("or", "by", "with") or (
                t.text not in ("(", "!", "not", "*")
                and t.kind not in ("ID", "NUM", "STR", "BSTR", "REGEX")
            ):
                return e  # can't start a factor (e.g. `?`, `,`)
            else:
                rhs = _to_search_atom(self._search_not())
                e = _bin("and", _to_search_atom(e), rhs)

    def _search_not(self) -> dict:
        t = self.peek()
        if t.text == "!" or (t.kind == "ID" and t.text.lower() == "not"):
            self.next()
            return {"k": "Unary", "op": "!", "operand": self._search_not()}
        return self._search_primary()

    def _search_primary(self) -> dict:
        t = self.peek()
        if t.text == "(" and t.kind == "OP":
            self.next()
            e = self._search_or()
            self.expect(")")
            return {"k": "Paren", "expr": e}
        if t.kind == "REGEX" or (
            t.kind == "STR" and self.peek(1).text not in _EXPR_FOLLOW
        ):
            self.terms += 1
            return self.primary()
        if (
            t.kind in ("ID", "NUM", "BSTR") or t.text == "*"
        ) and t.text not in ("true", "false", "null", "this"):
            save = self.i
            toks = [self.next()]
            end = t.pos + len(t.text)
            while (
                self.peek().kind in ("ID", "NUM", "BSTR")
                or self.peek().text in ("*", ".", "/", ":", "-")
            ) and self.peek().pos == end:
                toks.append(self.next())
                end = toks[-1].pos + len(toks[-1].text)
            term = "".join(x.text for x in toks)
            nxt = self.peek()
            is_expr = nxt.text in _EXPR_FOLLOW or (
                nxt.text in ("(", "[", ".") and nxt.pos == end
            )
            # every star/slash INFIX between word operands with an
            # identifier among them (`2*PI*r`) is arithmetic; other
            # runs are terms, globs or nets
            arith = (
                re.fullmatch(r"\w+(?:[*/]\w+)+", term)
                and not re.fullmatch(r"[\d.:]+(?:[*/][\d.:]+)+", term)
                and not _NET_RE.fullmatch(term)
            )
            if not is_expr and not arith:
                self.terms += 1
                if len(toks) == 1 and t.kind == "ID":
                    return {"k": "Term", "text": t.text}
                if len(toks) == 1 and t.kind == "NUM":
                    return _prim("float64" if "." in term else "int64", term)
                if re.search(r"(?<!\\)\*", term) and not _NET_RE.fullmatch(term):
                    return {"k": "Glob", "text": term}
                if all(x.kind == "ID" or x.text == "." for x in toks):
                    # a dotted path stays a path; lowering reads it as a term
                    e = {"k": "ID", "name": toks[0].text}
                    for x in toks[2::2]:
                        e = _bin(".", e, {"k": "ID", "name": x.text})
                    return e
                return {"k": "Term", "text": term}
            self.i = save
        return self.cmp_expr()

    # --- expressions (precedence climbing)
    def expr(self) -> dict:
        e = self.or_expr()
        if not self.eat("?"):
            return e
        then = self.expr()
        self.expect(":")
        return {"k": "Cond", "cond": e, "then": then, "else": self.expr()}

    def or_expr(self) -> dict:
        e = self.and_expr()
        while self.peek().kind == "ID" and self.peek().text in ("or", "OR"):
            self.next()
            e = _bin("or", e, self.and_expr())
        return e

    def and_expr(self) -> dict:
        e = self.not_expr()
        while self.peek().kind == "ID" and self.peek().text in ("and", "AND"):
            self.next()
            e = _bin("and", e, self.not_expr())
        return e

    def not_expr(self) -> dict:
        t = self.peek()
        if (t.kind == "OP" and t.text == "!") or (
            t.kind == "ID" and t.text in ("not", "NOT")
        ):
            self.next()
            return {"k": "Unary", "op": "!", "operand": self.not_expr()}
        return self.cmp_expr()

    def cmp_expr(self) -> dict:
        e = self.add_expr()
        t = self.peek()
        if t.kind == "OP" and t.text in ("==", "!=", "<", "<=", ">", ">=") or (
            t.kind == "ID" and t.text == "in"
        ):
            self.next()
            return _bin(t.text, e, self.add_expr())
        if t.kind == "OP" and t.text in ("~", "!~"):
            # regexp match: e ~ /re/ (docs/language/expressions.md)
            self.next()
            if self.peek().kind not in ("REGEX", "STR"):
                r = self.peek()
                raise SyntaxError(f"expected /regexp/ after {t.text!r} at {r.pos}")
            return _bin(t.text, e, self.primary())
        return e

    def add_expr(self) -> dict:
        e = self.mul_expr()
        while self.peek().kind == "OP" and self.peek().text in ("+", "-"):
            e = _bin(self.next().text, e, self.mul_expr())
        return e

    def mul_expr(self) -> dict:
        e = self.unary_expr()
        while self.peek().kind == "OP" and self.peek().text in ("*", "/", "%"):
            e = _bin(self.next().text, e, self.unary_expr())
        return e

    def unary_expr(self) -> dict:
        if self.eat("-"):
            return {"k": "Unary", "op": "-", "operand": self.unary_expr()}
        return self.postfix_expr()

    def postfix_expr(self, calls: bool = True) -> dict:
        e = self.primary(calls)
        while True:
            if self.at(".") and self.peek(1).kind == "ID":
                self.next()
                e = _bin(".", e, {"k": "ID", "name": self.next().text})
            elif self.eat("["):
                lo = None if self.at(":") else self.expr()
                if self.eat(":"):
                    hi = None if self.at("]") else self.expr()
                    e = {"k": "Slice", "expr": e, "from": lo, "to": hi}
                else:
                    e = {"k": "Index", "expr": e, "index": lo}
                self.expect("]")
            else:
                return e

    def primary(self, calls: bool = True) -> dict:
        t = self.next()
        k, text = t.kind, t.text
        if k == "NUM":
            return _prim("float64" if "." in text else "int64", text)
        if k == "STR":
            return _prim("string", text[1:-1])
        if k in ("TIME", "DUR"):
            return _prim("time" if k == "TIME" else "duration", text)
        if k == "IP":
            return _prim("net" if "/" in text else "ip", text)
        if k == "FSTR":
            return _parse_fstring(text)
        if k == "REGEX":
            return {"k": "Regexp", "pattern": text[1:-1]}
        if k == "BSTR":
            return {"k": "Glob" if "*" in text else "Term", "text": text}
        if k == "OP" and text == "(":
            if self.at("over"):
                # lateral subquery as an expression (OverExpr)
                ov = self.op_over()
                body = self._piped([])
                self.expect(")")
                return {"k": "OverExpr", "exprs": ov["exprs"],
                        "locals": ov["locals"], "body": body}
            e = self.expr()
            self.expect(")")
            return {"k": "Paren", "expr": e}
        if k == "OP" and text == "{":
            return {"k": "Record", "elems": self.listed(self.record_elem, "}")}
        if k == "OP" and text == "[":
            return {"k": "Array", "elems": self.listed(self.vector_elem, "]")}
        if k == "OP" and text == "|":
            # |[ ... ]| set or |{ ... }| map
            if self.eat("["):
                elems = self.listed(self.vector_elem, "]")
                self.expect("|")
                return {"k": "Set", "elems": elems}
            self.expect("{")
            entries = self.listed(self.map_entry, "}")
            self.expect("|")
            return {"k": "Map", "entries": entries}
        if k == "OP" and text == "<":
            # type value <...>; possibly a cast <type>(expr)
            tv = {"k": "TypeValue", "text": self._angle_type_text(t.pos)}
            if self.eat("("):
                inner = self.expr()
                self.expect(")")
                return {"k": "Cast", "type": tv, "expr": inner}
            return tv
        if k != "ID":
            raise SyntaxError(f"unexpected token {text!r} at {t.pos}")
        if text in ("true", "false"):
            return _prim("bool", text)
        if text == "null":
            return _prim("null", "null")
        if not calls or text == "this" or not self.eat("("):
            return {"k": "ID", "name": text}
        if text == "grep":
            return self.grep_args()
        call = {"k": "Call", "name": text, "args": self.listed(self.expr, ")")}
        if self.eat("where"):
            return {"k": "Agg", "name": text,
                    "expr": call["args"][0] if call["args"] else None,
                    "where": _to_search(self.expr()), "call": call}
        return call

    def grep_args(self) -> dict:
        """grep(pattern[, e]); the pattern may be a bare glob
        (`grep(*foo*)` — search-expr.md grep)."""
        if self.at("*") or (
            self.peek().kind in ("ID", "NUM")
            and self.peek(1).text in ("*", "?")
        ):
            parts = []
            while self.peek().text not in (",", ")") and not self.done():
                parts.append(self.next().text)
            pat = {"k": "Glob", "text": "".join(parts)}
        else:
            pat = self.expr()
        e = self.expr() if self.eat(",") else None
        self.expect(")")
        return {"k": "Grep", "pattern": pat, "expr": e}

    def record_elem(self) -> tuple:
        if self.eat("..."):
            return ("spread", self.expr())
        t = self.next()
        name = t.text[1:-1] if t.kind == "STR" else t.text
        return ("field", name, self.expr()) if self.eat(":") else ("id", name)

    def vector_elem(self) -> tuple:
        return ("spread", self.expr()) if self.eat("...") else ("v", self.expr())

    def map_entry(self) -> tuple:
        k = self.expr()
        self.expect(":")
        return (k, self.expr())

    def _angle_type_text(self, start: int) -> str:
        """Raw text of a <...> type value (balanced angle brackets)."""
        depth, end = 1, start
        while depth and not self.done():
            t = self.next()
            depth += {"<": 1, ">": -1}.get(t.text, 0)
            end = t.pos + len(t.text)
        return self.src[start + 1 : end - 1]


def _bin(op: str, lhs: dict, rhs: dict) -> dict:
    return {"k": "Bin", "op": op, "lhs": lhs, "rhs": rhs}


def _prim(typ: str, text: str) -> dict:
    return {"k": "Prim", "type": typ, "text": text}


def _parse_fstring(text: str) -> dict:
    """f"..." literal → FString node with text/expr parts."""
    inner = text[2:-1]
    parts: list = []
    buf = ""
    i = 0
    while i < len(inner):
        ch = inner[i]
        if ch == "\\":
            buf += inner[i : i + 2]
            i += 2
            continue
        if ch != "{":
            buf += ch
            i += 1
            continue
        depth, j = 1, i + 1
        while j < len(inner) and depth:
            if inner[j] in "{}":
                depth += 1 if inner[j] == "{" else -1
            elif inner[j] in "\"'":
                q = inner[j]
                j += 1
                while j < len(inner) and inner[j] != q:
                    j += 2 if inner[j] == "\\" else 1
            j += 1
        if depth:
            raise SyntaxError("unterminated '{' in f-string")
        if buf:
            parts.append(("text", buf))
            buf = ""
        sub = _Parser(inner[i + 1 : j - 1])
        parts.append(("expr", sub.expr()))
        if not sub.done():
            raise SyntaxError("trailing input in f-string expression")
        i = j
    if buf:
        parts.append(("text", buf))
    return {"k": "FString", "parts": parts}


def _to_search_atom(e: dict) -> dict:
    """A juxtaposed search atom: bare numbers become Terms with their
    raw source text (the PEG's search-term rule)."""
    if e["k"] == "Prim" and e["type"] in ("int64", "float64"):
        return {"k": "Term", "text": e["text"]}
    return e


def _to_search(e: dict) -> dict:
    """Convert bare identifiers in a pure and/or/! tree to search
    Terms (the PEG parses these as search atoms; IsSearch in
    zfmt/ast.go:793 then classifies the op as a search)."""
    if e["k"] == "Bin" and e["op"] in ("and", "or"):
        return _bin(e["op"], _to_search(e["lhs"]), _to_search(e["rhs"]))
    if e["k"] == "Unary" and e["op"] == "!":
        return {"k": "Unary", "op": "!", "operand": _to_search(e["operand"])}
    if e["k"] == "ID" and e["name"] != "this":
        return {"k": "Term", "text": e["name"]}
    return e


def _is_agg_call(e) -> bool:
    return e["k"] in ("Call", "Agg") and e["name"] in _AGG_NAMES


def _search_leaves(e: dict):
    """The factors of a search expression's and/or/!/paren skeleton."""
    k = e["k"]
    if k == "Bin" and e["op"] in ("and", "or"):
        yield from _search_leaves(e["lhs"])
        yield from _search_leaves(e["rhs"])
    elif k == "Unary" and e["op"] == "!":
        yield from _search_leaves(e["operand"])
    elif k == "Paren":
        yield from _search_leaves(e["expr"])
    else:
        yield e


def _count_factors(e: dict) -> int:
    return sum(1 for _ in _search_leaves(e))


def _is_term(e: dict) -> bool:
    if e["k"] == "Prim":
        return e["type"] in ("string", "int64", "float64")
    return e["k"] in ("Term", "Glob", "Regexp") or _dotted(e) is not None


def _is_path(e: dict) -> bool:
    while e["k"] == "Index" or (e["k"] == "Bin" and e["op"] == "."):
        e = e.get("expr") or e["lhs"]
    return e["k"] == "ID"


def _dotted(e: dict):
    """`a.b.c` as a list of names, or None if e is not a bare path."""
    if e["k"] == "ID":
        return None if e["name"] == "this" else [e["name"]]
    if e["k"] == "Bin" and e["op"] == ".":
        head = _dotted(e["lhs"])
        if head is not None:
            return head + [e["rhs"]["name"]]
    return None


def parse_ast(src: str) -> list:
    """Parse query text into the reference-shaped dict AST."""
    return _Parser(src).parse()


# ---------------------------------------------------------------------------
# lowering: dict AST → the compiler's tuple AST

_SENTINEL = object()

_FOLD = {
    "+": operator.add, "-": operator.sub, "*": operator.mul,
    "%": operator.mod, "/": operator.floordiv,
}


def _const_dep_check(e, consts: dict, name: str, types: dict) -> None:
    """const bodies must be data-independent (semantic/op.go: 'const
    ... cannot have variable dependency'): field/this references are
    rejected unless the name is a previously declared const — or a
    declared named TYPE, which reads as a type value (expr/ztests/
    type-map: const schemas = |{"conn": conn, ...}|)."""
    if e[0] == "this" or (
        e[0] == "field" and e[1] and ".".join(e[1]) not in consts
        and e[1][0] not in consts and e[1][0] not in types
    ):
        raise ValueError(f'const "{name}" cannot have variable dependency')
    for sub in e[1:]:
        for x in sub if isinstance(sub, list) else [sub]:
            if isinstance(x, tuple):
                _const_dep_check(x, consts, name, types)


def _const_int(e: tuple) -> int:
    """Fold a constant integer expression (head/tail counts)."""
    if e[0] == "num":
        return int(e[1])
    if e[0] == "bin" and e[1] in _FOLD:
        return int(_FOLD[e[1]](_const_int(e[2]), _const_int(e[3])))
    if e[0] == "un" and e[1] == "-":
        return -_const_int(e[2])
    raise SyntaxError(f"expected a constant count, got {e!r}")


def _type_tuple(text: str) -> tuple:
    p = _Parser(text)
    ty = p.type_expr()
    if not p.done():
        t = p.peek()
        raise SyntaxError(f"trailing input at {t.pos}: {t.text!r}")
    return ty


def _fstring_text(raw: str) -> tuple:
    """An f-string's literal run: `\\{`/`\\}` are literal braces, other
    escapes decode as JSON string escapes."""
    text = re.sub(r"\\([{}])|(\\.)", lambda m: m[1] or m[2], raw)
    return ("str", json.loads('"' + text + '"'))


def _backtick(name: str) -> str:
    return f"`{name}`" if "." in name else name


class _Lower:
    """One pass over the dict AST. Declarations accumulate at query
    level (a parenthesized scope keeps its own consts and funcs);
    every lexical scope rejects a second declaration of one name."""

    def __init__(self):
        self.funcs: dict[str, tuple[list[str], tuple]] = {}
        self.consts: dict[str, tuple] = {}
        self.user_ops: dict[str, tuple[list[str], list[tuple]]] = {}
        self.types: dict[str, tuple] = {}
        self.op_names: set[str] = set()
        self.scopes: list[set[str]] = [set()]

    def run(self, seq: list) -> list[tuple]:
        ops = self.seq(seq)
        if self.funcs or self.consts or self.user_ops or self.types:
            decls = ("decls", self.funcs, self.consts, self.user_ops, self.types)
            return [decls] + ops
        return ops

    # --- declarations
    def seq(self, seq: list) -> list[tuple]:
        out = []
        for node in seq:
            if node["k"] == "Scope" and node["decls"]:
                self.decls(node["decls"])
                out.extend(self.seq(node["body"]))
            else:
                out.append(self.op(node))
        return out

    def declare(self, name: str) -> None:
        if name in self.scopes[-1]:
            raise ValueError(f'symbol "{name}" redefined')
        self.scopes[-1].add(name)

    def decls(self, decls: list) -> None:
        for d in decls:
            kind, name = d[0], d[1]
            if kind == "type":
                if name in self.types:
                    raise SyntaxError(f'symbol "{name}" redefined')
                self.types[name] = _type_tuple(d[2])
            elif kind == "op":
                self.op_names.add(name)  # visible to its own body
                self.user_ops[name] = (d[2], self.seq(d[3]))
            elif kind == "func":
                body = self.expr(d[3])
                self.declare(name)
                self.funcs[name] = (d[2], body)
            else:
                e = self.expr(d[2])
                _const_dep_check(e, self.consts, name, self.types)
                self.declare(name)
                self.consts[name] = e

    # --- operators
    def op(self, n: dict) -> tuple:
        return getattr(self, "op_" + n["k"])(n)

    def op_Scope(self, n):
        """A parenthesized scope: its consts and funcs shadow the outer
        ones and are restored at the closing paren."""
        body = n["body"]
        if len(body) == 1 and body[0]["k"] == "OpExpr":
            # a parenthesized search expression
            return self.op_OpExpr({"expr": {"k": "Paren", "expr": body[0]["expr"]}})
        saved_c, saved_f = dict(self.consts), dict(self.funcs)
        self.scopes.append(set())
        ops = self.seq(body)
        self.scopes.pop()
        local_c, local_f = (
            {k: v for k, v in now.items() if saved.get(k, _SENTINEL) is not v}
            for now, saved in ((self.consts, saved_c), (self.funcs, saved_f))
        )
        self.consts, self.funcs = saved_c, saved_f
        return ("scope", ops, local_c, local_f)

    def op_Pool(self, n):
        """Pool, File and HTTP sources → ('from', name[, format])."""
        kind, name = n.get("pool") or n.get("path") or n["url"]
        if kind == "regexp":
            name = "/" + name + "/"
        if n.get("commit"):
            name += "@" + n["commit"]
        if n.get("meta"):
            name += ":" + n["meta"]
        fmt = n.get("format", "").strip('"')
        return ("from", name, fmt) if fmt else ("from", name)

    op_File = op_HTTP = op_Pool

    def op_From(self, n):
        legs = []
        for src, sub in n["trunks"]:
            name = self.op(src)[1]
            if src["k"] == "Pool" and name == "pass":
                name = None  # `pass` leg: the incoming stream
            legs.append((name, None if sub is None else self.seq(sub)))
        return ("frommulti", legs)

    def op_Where(self, n):
        return ("where", self.expr(n["expr"]))

    def op_Search(self, n):
        return ("where", self.search(n["expr"]))

    def op_Assert(self, n):
        return ("assert", self.expr(n["expr"]), n["text"])

    def op_Cut(self, n):
        return ("cut", self.cut_list(n["args"]))

    def op_Put(self, n):
        return ("put", self.put_list(n["args"]))

    def op_Drop(self, n):
        return ("drop", [".".join(self.static_path(e)) for e in n["args"]])

    def op_Rename(self, n):
        sides = [(self.rename_side(a["lhs"]), self.rename_side(a["rhs"])) for a in n["args"]]
        return ("rename", sides)

    def op_Summarize(self, n):
        keys, every = self.keys(n["keys"])
        return ("summarize", [self.agg(a) for a in n["aggs"]], keys, every)

    def op_OpAssignment(self, n):
        rhs = n["assigns"][0]["rhs"]
        if rhs["k"] in ("Call", "Agg") and rhs["name"] in AGG_FNS:
            return ("summarize", [self.agg(a) for a in n["assigns"]], [], None)
        return ("put", self.put_list(n["assigns"]))

    def op_Sort(self, n):
        keys = [(self.expr(e), order) for e, order in n["args"]]
        nulls = "first" if n["nullsfirst"] else n.get("nulls")
        return ("sort", keys, n["reverse"], nulls)

    def op_Head(self, n):
        count = 1 if n["count"] is None else _const_int(self.expr(n["count"]))
        return (n["k"].lower(), count)

    op_Tail = op_Head

    def op_Top(self, n):
        return ("top", n["limit"], [self.expr(e) for e in n["args"]])

    def op_Uniq(self, n):
        return ("uniq", n["c"])

    def op_Fuse(self, n):
        return ("fuse",)

    def op_Pass(self, n):
        return ("pass",)

    # the data path of debug is identity; its side channel isn't modelled
    op_Debug = op_Pass

    def op_Yield(self, n):
        return ("yield", [self.expr(e) for e in n["exprs"]])

    def op_Output(self, n):
        return ("outputop", n["name"])

    def op_Merge(self, n):
        return ("merge", [self.expr(e) for e in n.get("exprs") or [n["expr"]]])

    def op_Load(self, n):
        ref = n["pool"] + ("@" + n["branch"] if n["branch"] else "")
        return ("load", ref, n["author"], n["message"])

    def op_Over(self, n):
        exprs = [self.expr(e) for e in n["exprs"]]
        e = exprs[0] if len(exprs) == 1 else ("overlist", exprs)
        with_vars = [(name, self.expr(v)) for name, v in n["locals"]]
        body = None if n["body"] is None else self.seq(n["body"])
        return ("over", e, with_vars, body)

    def op_Parallel(self, n):
        legs = [self.seq(p) for p in n["paths"]]
        if not legs:
            raise SyntaxError("fork needs at least one '=> ...' leg")
        return ("fork", legs)

    def op_Switch(self, n):
        sel = n["expr"]
        if sel is not None:
            # a bare path selector names a field: `switch a["b"] (`
            parts, rest = self.path(sel) if _is_path(sel) else (None, True)
            sel = ("field", parts) if not rest else self.expr(sel)
        cases = [
            (None if ce is None else self.expr(ce), self.seq(path))
            for ce, path in n["cases"]
        ]
        if not cases:
            raise SyntaxError("switch needs at least one case")
        return ("switch", sel, cases)

    def op_Join(self, n):
        lk = self.join_key(n["lk"])
        rk = lk if n["rk"] is None else self.join_key(n["rk"])
        cut = self.cut_list(n["args"]) if n["args"] else []
        sub = None if n["right"] is None else self.seq(n["right"])
        return ("join", n["style"] or "inner", lk, rk, cut, sub)

    def op_Explode(self, n):
        name = "value" if n["as"] is None else ".".join(self.static_path(n["as"]))
        exprs = [self.expr(e) for e in n["args"]]
        return ("explode", exprs, _type_tuple(n["type"]), name)

    def op_Shaper(self, n):
        return ("shapeop", n["op"], _type_tuple(n["type"]))

    def op_OpExpr(self, n):
        e = n["expr"]
        if e["k"] in ("Call", "Agg"):
            if e["name"] != "count" and e["name"] in self.op_names:
                return ("opcall", e["name"], [self.expr(a) for a in e["args"]])
            if e["name"] in AGG_FNS:
                return ("summarize", [self.agg(_assign(None, e))], [], None)
        leaves = list(_search_leaves(e))
        leaf = leaves[0]
        if e is leaf:
            word = leaf.get("text") if leaf["k"] in ("Term", "Glob") else None
            if word == "sample":
                return ("sample",)  # one exemplar per value shape
            if word in _SHAPERS or word == "*":
                # bare normalization (one frame has one shape), and
                # `*` alone, which matches everything
                return ("pass",)
        while e["k"] == "Paren":
            e = e["expr"]
        if e is leaf and _is_term(leaf):
            s = self.search(leaf)
            return ({"sglob": "searchglob", "sre": "searchre"}.get(s[0], "search"), s[1])
        if len(leaves) > 1 or any(_is_term(x) for x in leaves):
            return ("where", self.search(e))
        x = self.expr(e)
        if x[0] in ("record", "array", "set", "map"):
            return ("yield", [x])
        # implied where or yield: the compiler decides by static type
        return ("exprop", x)

    # --- assignment lists
    def agg(self, a: dict) -> tuple:
        name = None if a["lhs"] is None else ".".join(self.static_path(a["lhs"]))
        rhs = a["rhs"]
        fn = rhs.get("name") or rhs.get("text") or rhs["k"]
        if rhs["k"] not in ("Call", "Agg") or fn not in AGG_FNS:
            raise SyntaxError(f"unknown aggregate {fn!r}")
        if rhs["k"] == "Agg":
            arg = None if rhs["expr"] is None else self.expr(rhs["expr"])
            return (name, fn, arg, self.expr(rhs["where"]))
        if len(rhs["args"]) > 1:
            raise SyntaxError(f"{fn}: expected one argument")
        arg = self.expr(rhs["args"][0]) if rhs["args"] else None
        return (name, fn, arg, None)

    def keys(self, assigns: list):
        keys, every = [], None
        for a in assigns:
            lhs, rhs = a["lhs"], a["rhs"]
            if lhs is None and rhs["k"] == "Call" and rhs["name"] == "every":
                every = rhs["args"][0].get("text")
                continue
            e = self.expr(rhs)
            if lhs is not None:
                keys.append((".".join(self.static_path(lhs)), e))
            elif e[0] == "field":
                # a dotted key keeps its nesting: `by rec.i` emits
                # {rec:{i:...}} (groupby/ztests/key-in-record)
                keys.append((".".join(e[1]), e))
            elif e[0] == "call":
                keys.append((e[1], e))  # named after the function (deriveAs)
            else:
                raise SyntaxError("group-by key expressions need a name (k:=expr)")
        return keys, every

    def put_list(self, assigns: list) -> list:
        out = []
        for a in assigns:
            if a["lhs"] is None:
                raise SyntaxError("put: expected ':='")
            out.append((self.rename_side(a["lhs"], True), self.expr(a["rhs"])))
        return out

    def cut_list(self, assigns: list) -> list:
        """cut/join lists: a.b, c:=d.e, c:=<expr> → [(path or expr
        tuple, alias or None)] (docs/language/operators/cut.md)."""
        out = []
        for a in assigns:
            lhs, rhs = a["lhs"], a["rhs"]
            if lhs is not None and lhs["k"] == "ID":
                if rhs["k"] == "Agg":
                    # per-agg where on a running aggregate
                    e = ("aggwhere", self.expr(rhs["call"]), self.expr(rhs["where"]))
                else:
                    e = self.expr(rhs)
                out.append((".".join(e[1]) if e[0] == "field" else e, lhs["name"]))
            elif lhs is not None:
                target = self.rename_side(lhs)
                if not isinstance(target, tuple):
                    raise SyntaxError("cut: a static path cannot be assigned")
                out.append((("dyncut", target[1], self.expr(rhs)), None))
            elif rhs["k"] in ("Call", "Grep"):
                # bare call: the output is named after the function
                # (deriveAs) — except quiet(a.b), which targets a.b
                e = self.expr(rhs)
                name = e[1]
                if name == "quiet" and len(e[2]) == 1 and e[2][0][0] == "field":
                    name = ".".join(e[2][0][1])
                out.append((e, name))
            else:
                target = self.rename_side(rhs)
                if isinstance(target, tuple):
                    raise SyntaxError("cut: expected ':='")
                out.append((target, None))
        return out

    def rename_side(self, e: dict, strip_this: bool = False):
        """A target path as a dotted string, or ('dyn', segments) when
        a step is a runtime `[expr]` (op/ztests/*-dynamic-field)."""
        parts, rest = self.path(e)
        if rest:
            segs, dyn = self.dyn_segments(parts, rest)
            if dyn:
                return ("dyn", segs)
            parts = [_backtick(s) for _k, s in segs] or ["this"]
        if strip_this and parts[0] == "this" and len(parts) > 1:
            parts = parts[1:]  # this["x.y"] / this.a address the same field
        return ".".join(parts)

    def join_key(self, e: dict):
        if e["k"] == "Paren":
            return self.expr(e["expr"])
        return ".".join(self.static_path(e))

    # --- paths
    def path(self, e: dict):
        """Split a target path into its leading static names — ids,
        `.name`, `["str"]` and `[CONST]` steps — and the remaining
        steps, which start at the first runtime `[expr]` index."""
        steps = []
        while e["k"] in ("Bin", "Index") and e.get("op", ".") == ".":
            if e["k"] == "Bin":
                steps.append(("s", e["rhs"]["name"]))
                e = e["lhs"]
            else:
                steps.append(("e", e["index"]))
                e = e["expr"]
        steps.reverse()
        if e["k"] not in ("ID", "Term"):
            raise SyntaxError(f"expected a field path, got {e['k']}")
        parts = [e.get("name") or e.get("text")]
        for i, (kind, v) in enumerate(steps):
            if kind == "s":
                parts.append(v)
            elif v["k"] == "Prim" and v["type"] == "string":
                parts.append(_backtick(v["text"]))
            elif v["k"] == "ID" and v["name"] in self.consts:
                # rec[constName] — const string keys resolve here
                # (compiler/ztests/path-index-const)
                cv = self.consts[v["name"]]
                if cv[0] != "str":
                    raise SyntaxError("path index const must be a string")
                parts.append(_backtick(cv[1]))
            else:
                return parts, steps[i:]
        return parts, []

    def static_path(self, e: dict) -> list[str]:
        parts, rest = self.path(e)
        if rest:
            raise SyntaxError("expected a static field path")
        return parts

    def dyn_segments(self, parts: list[str], rest: list):
        """Segments of a path with runtime `[expr]` steps: ('s', name)
        or ('e', expr) each, and whether any step is dynamic."""
        segs = [("s", p) for p in parts]
        for kind, v in rest:
            e = v if kind == "s" else self.expr(v)
            segs.append(("s", e) if kind == "s" else ("s", e[1]) if e[0] == "str" else ("e", e))
        if segs and segs[0] == ("s", "this"):
            segs = segs[1:]
        return segs, any(k == "e" for k, _v in segs)

    # --- search expressions
    def search(self, e: dict) -> tuple:
        k = e["k"]
        if k == "Bin" and e["op"] in ("and", "or"):
            return ("bin", e["op"], self.search(e["lhs"]), self.search(e["rhs"]))
        if k == "Unary" and e["op"] == "!":
            return ("un", "not", self.search(e["operand"]))
        if k == "Paren":
            return self.search(e["expr"])
        if k == "Term" and _NET_RE.fullmatch(e["text"]):
            return ("snet", e["text"])
        if k == "Term":
            return ("sterm", re.sub(r"\\(.)", r"\1", e["text"]))
        if k == "Glob":
            return ("sglob", e["text"])
        if k == "Regexp":
            return ("sre", e["pattern"])
        if _is_term(e):
            return ("sterm", e.get("text") or ".".join(_dotted(e)))
        return self.expr(e)

    # --- expressions
    def expr(self, e: dict) -> tuple:
        return getattr(self, "x_" + e["k"])(e)

    def x_Prim(self, e):
        typ, text = e["type"], e["text"]
        if typ == "int64":
            return ("num", int(text))
        if typ == "float64":
            return ("num", float(text))
        if typ in ("bool", "null"):
            return ("null",) if typ == "null" else ("bool", text == "true")
        if typ == "time" and text[:4].isdigit() and int(text[:4]) > 2262:
            # nano.Ts is int64 ns — times past 2262-04-11T23:47:16Z
            # overflow (zson time-overflow ztest)
            raise SyntaxError(f"time overflow: {text} (max: 2262-04-11T23:47:16Z)")
        if typ in ("time", "duration"):
            return ("time" if typ == "time" else "dur", text)
        # strings, and ip/net literals as canonical strings (SURVEY §1.2)
        return ("str", text)

    def x_ID(self, e):
        return ("this",) if e["name"] == "this" else ("field", [e["name"]])

    def x_Term(self, e):
        return ("field", [e["text"]])

    def x_Glob(self, e):
        return ("glob", e["text"])

    def x_Regexp(self, e):
        # a /re/ literal rides as a string tagged "re": pattern-consuming
        # functions keep regex semantics (docs/language/functions/regexp.md)
        return ("str", e["pattern"], "re")

    def x_Paren(self, e):
        return self.expr(e["expr"])

    def x_Unary(self, e):
        return ("un", "not" if e["op"] == "!" else e["op"], self.expr(e["operand"]))

    def x_Bin(self, e):
        op, lhs = e["op"], self.expr(e["lhs"])
        if op == ".":
            name = e["rhs"]["name"]
            if lhs[0] == "field":
                return ("field", lhs[1] + [name])
            return ("getfield", lhs, name)
        if op in ("~", "!~"):
            rhs = e["rhs"]
            m = ("regexmatch", lhs, rhs.get("pattern", rhs.get("text")))
            return ("un", "not", m) if op == "!~" else m
        if op == "in":
            return ("in", lhs, self.expr(e["rhs"]))
        return ("bin", op, lhs, self.expr(e["rhs"]))

    def x_Cond(self, e):
        return ("cond", self.expr(e["cond"]), self.expr(e["then"]), self.expr(e["else"]))

    def x_Call(self, e):
        return ("call", e["name"], [self.expr(a) for a in e["args"]])

    def x_Agg(self, e):
        return ("aggwhere", self.expr(e["call"]), self.expr(e["where"]))

    def x_Grep(self, e):
        args = [e["pattern"]] + ([] if e["expr"] is None else [e["expr"]])
        return ("call", "grep", [self.expr(a) for a in args])

    def x_Index(self, e):
        return ("index", self.expr(e["expr"]), self.expr(e["index"]))

    def x_Slice(self, e):
        lo, hi = (None if x is None else self.expr(x) for x in (e["from"], e["to"]))
        return ("slice", self.expr(e["expr"]), lo, hi)

    def x_Record(self, e):
        fields = []
        for elem in e["elems"]:
            if elem[0] == "spread":
                fields.append((None, ("spread", self.expr(elem[1]))))
            elif elem[0] == "id":
                fields.append((elem[1], ("field", [elem[1]])))
            else:
                fields.append((elem[1], self.expr(elem[2])))
        names = [name for name, _v in fields if name is not None]
        for i, name in enumerate(names):
            if name in names[:i]:
                # semantic/expr.go: record expressions reject duplicate
                # fields at compile time
                raise SyntaxError(f'record expression: duplicate field: "{name}"')
        return ("record", fields)

    def vector(self, elems: list) -> list:
        return [
            ("spread", self.expr(v)) if kind == "spread" else self.expr(v)
            for kind, v in elems
        ]

    def x_Array(self, e):
        return ("array", self.vector(e["elems"]))

    def x_Set(self, e):
        return ("set", self.vector(e["elems"]))

    def x_Map(self, e):
        return ("map", [(self.expr(k), self.expr(v)) for k, v in e["entries"]])

    def x_TypeValue(self, e):
        return ("typeval", _type_tuple(e["text"]))

    def x_Cast(self, e):
        # <port>(80) ≡ cast(80, <port>) (expressions.md casts)
        return ("call", "cast", [self.expr(e["expr"]), self.x_TypeValue(e["type"])])

    def x_FString(self, e):
        return ("fstr", [
            _fstring_text(v) if kind == "text" else self.expr(v)
            for kind, v in e["parts"]
        ])

    def x_OverExpr(self, e):
        over = self.op_Over({**e, "body": None})
        return ("overexpr", [over] + self.seq(e["body"]))


def lower(seq: list) -> list[tuple]:
    """Lower the dict AST to the compiler's tuple AST."""
    return _Lower().run(seq)


def parse(src: str) -> list[tuple]:
    """Parse query text into the compiler's tuple AST. If the query
    declares funcs, consts, ops or types, the first element is
    ('decls', funcs, consts, user_ops, types)."""
    return lower(parse_ast(src))
