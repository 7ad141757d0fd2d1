"""zed query-language front end.

Parses a practical subset of the zed language (reference grammar:
compiler/parser/parser.peg; semantics: docs/language/) and compiles
it onto the zed_spark operator API — so a pipeline written for the
reference CLI runs unchanged against Spark:

    z.query("from events | value > 100 | count() by event_type | sort -r count")

One parser reads query text (`parser.py`). The pipeline is

    text --parse_ast--> dict AST --lower--> tuple AST --> Compiler

The dict AST has the reference `ast` shape; `POST /compile` returns it
and the zfmt printers format it. `lower` turns it into the tuples the
compiler consumes; `parse(text)` runs both steps.

Supported: from, where (+ implied where / bare search terms), cut,
put (+ bare assignments), drop, rename, summarize (implied by agg
calls) with `by` keys and `every(dur)`, sort [-r], head, tail, top,
uniq [-c], fuse, yield, over, join (inner/left/right/anti). The
expression grammar covers literals (int/float/string/bool/null/
time/duration), field paths, arithmetic/comparison/boolean operators,
`in`, indexing/slicing, conditional e?a:b, function calls, and
record/array constructors.

Also supported: `func name(params): (expr)`, `const NAME = expr`,
and `op name(params): ( seq )` declarations (all macro-expanded
inline, like the reference's FuncDecl/OpDecl compilation,
semantic/op.go:855-857); `switch [selector] ( case ... => seq )` and
`fork ( => seq ... )` blocks; `over e with x=e` bindings.

Not ported (documented gaps): OverExpr (lateral subquery inside an
expression — use over as an operator), casts to user-named types.
"""

from zed_spark.lang.parser import parse
from zed_spark.lang.compiler import compile_query

__all__ = ["parse", "compile_query"]
