"""PromQL abstract syntax tree (the subset the planner lowers).

Node shapes follow the published PromQL grammar (selectors, range
selectors, aggregation operators with by/without, binary operators with
vector matching, function calls, literals, offset modifiers).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Matcher:
    name: str
    op: str  # '=', '!=', '=~', '!~'
    value: str


@dataclass(frozen=True)
class VectorSelector:
    name: str | None  # metric name (None for {...}-only selectors)
    matchers: tuple[Matcher, ...] = ()
    offset_ms: int = 0
    at_ms: int | str | None = None  # @ modifier: ms, or "start"/"end"


@dataclass(frozen=True)
class MatrixSelector:
    inner: VectorSelector
    range_ms: int = 0


@dataclass(frozen=True)
class Subquery:
    """``expr[range:step]`` — inner expression evaluated on a finer grid,
    then consumed as a range vector."""

    inner: object
    range_ms: int
    step_ms: int | None  # None: default to the query's evaluation interval
    offset_ms: int = 0
    #: ``@`` modifier: None, unix-ms int, or "start"/"end" (query bounds)
    at_ms: object = None


@dataclass(frozen=True)
class NumberLiteral:
    value: float


@dataclass(frozen=True)
class FunctionCall:
    name: str
    args: tuple = ()


@dataclass(frozen=True)
class Aggregation:
    op: str                     # sum/min/max/avg/count/stddev/stdvar/topk/...
    expr: object
    grouping: tuple[str, ...] = ()
    without: bool = False
    param: object = None        # k for topk/bottomk, q for quantile, label for count_values


@dataclass(frozen=True)
class BinaryOp:
    op: str
    lhs: object
    rhs: object
    bool_mode: bool = False
    on: tuple[str, ...] | None = None       # on(...) labels
    ignoring: tuple[str, ...] | None = None
    group_side: str | None = None           # 'left' | 'right'
    group_labels: tuple[str, ...] = ()


@dataclass(frozen=True)
class Unary:
    op: str  # '-' or '+'
    expr: object


#: the fields holding a node's sub-expressions (a FunctionCall's are its args)
_CHILD_FIELDS = {
    MatrixSelector: ("inner",),
    Subquery: ("inner",),
    Aggregation: ("expr", "param"),
    BinaryOp: ("lhs", "rhs"),
    Unary: ("expr",),
}


def children(node) -> tuple:
    """A node's sub-expressions, in evaluation order. Literal function
    args (label names, separators, regexes) and aggregation params are
    not expressions and are skipped."""
    if isinstance(node, FunctionCall):
        kids = node.args
    else:
        kids = (getattr(node, f) for f in _CHILD_FIELDS.get(type(node), ()))
    return tuple(k for k in kids if not isinstance(k, (int, float, str, type(None))))


def walk(node):
    """Every node of the expression, depth first (a node before its
    children)."""
    yield node
    for child in children(node):
        yield from walk(child)
