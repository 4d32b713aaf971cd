"""Structure of the round engine: a round is a sequence of phase methods,
each short enough to read whole. Parses the source; starts no Spark."""

import ast
import os

ENGINE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "ghcrawler_spark", "plans", "round_engine.py",
)
MAX_FUNCTION_LINES = 250


def test_no_round_engine_function_exceeds_250_lines():
    with open(ENGINE) as f:
        tree = ast.parse(f.read())
    lengths = {
        node.name: node.end_lineno - node.lineno + 1
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    }
    assert "_run_round_inner" in lengths
    too_long = {n: k for n, k in lengths.items() if k > MAX_FUNCTION_LINES}
    assert not too_long, f"functions over {MAX_FUNCTION_LINES} lines: {too_long}"
