"""Expression-level helpers shared across the native-function modules.

`let_` is the engine's let-binding barrier.  Catalyst's CollapseProject
rule inlines aliased expressions into every downstream reference, and
common-subexpression elimination only applies inside whole-stage codegen
— higher-order functions (`transform`/`zip_with`/`aggregate`) run on the
interpreted path where NO CSE happens.  Any expression that references
an expensive subexpression more than once therefore pays that cost per
reference (tokenizers, shift cascades), and self-referential cascades
grow the tree multiplicatively (2^k for a k-step cascade), which can
stack-overflow the JVM during analysis when composed.

Wrapping the expensive subexpression in a single-element `transform`
makes every internal reference a LambdaVariable leaf: tree growth
becomes additive, and the bound expression is evaluated once per row.
Measured effect in this repo: the n-gram scorer's tokenize+gram build
drops 4x (operators/ngram_lm.py — the tokenizer was being re-evaluated
~10x per row through the duplicated gram subtrees).

Cost: the wrapped subtree is evaluated via the interpreted path
(higher-order functions don't participate in codegen).  That trade wins
whenever the bound expression is expensive relative to one virtual call
— tokenizers, cascades — and loses for trivial bounds (a bare column);
don't wrap those.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def let_(bound: Column, body) -> Column:
    """Evaluate `bound` once per row and pass it to `body` as a leaf
    lambda variable: ``let_(expensive, lambda v: f(v, v, v))``."""
    return F.element_at(F.transform(F.array(bound), body), 1)
