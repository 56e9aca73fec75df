"""Codegen-cache-friendly constants.

Spark's whole-stage codegen inlines *primitive* literals into the generated
Java source, so a plan that differs only in a driver-supplied constant (the
crawl engine's per-round ``round`` / ``retry_at`` stamps) produces a *new*
source string every round — a Janino compile per round per stage, with every
other task of the stage blocked on the code cache while one task compiles.
The r6 depth probe measured this as 1-5 s of core-count-invariant wall per
round in each of the staged/insert/update write stages (one task at full CPU,
the other 15 idle at ~0.1 CPU for exactly the compile window).

Non-primitive literals (arrays, decimals) are emitted through the generated
class's ``references`` array instead — the *value* lives in the object graph,
the *source* only says ``references[N]`` — so plans differing only in such a
constant share one compiled class. But any deterministic expression over a
literal is constant-folded back into an inlined primitive before codegen.
``ref_lit`` therefore routes the constant through a 1-element array literal
indexed by a *nondeterministic* (pinned-seed ``rand``) index that always
evaluates to 1: folding is blocked, the array rides in ``references``, and
the generated source is value-invariant (verified by a codegen-text equality
test in tests/test_plans.py).

Value-invariant source avoids the recompile only while Spark's codegen cache
holds the session's working set: at the default of 100 entries a crawl's
other units evict the class before the next round reuses it.
``session.get_spark`` sizes the cache at 1,000. A per-round probe (12 pages
× 32 cards, 15 rounds, local[4], after a warm-up crawl) read 58 compiles in
round 1 and 338 per crawl at the default, crawl after crawl; with the larger
cache, 6 in round 1 and 187 in the first such crawl (the rounds whose plan
shape is new), then 0 in every round of the repeat crawl. Without
``ref_lit`` every round would still add a new entry.

Use for driver-supplied constants in HOT, per-round-rebuilt projections only;
plain ``F.lit`` remains right everywhere the plan itself is not rebuilt with
a changing value (filters also want plain literals — a nondeterministic
predicate cannot be pushed down).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ref_lit(value, dtype: str | None = None) -> Column:
    """A constant Column whose codegen source is value-independent.

    ``value`` must be a non-null int / float / str / bool scalar. ``dtype``
    casts the result (e.g. ``"int"`` — array element types infer wide:
    python ints become bigint).
    """
    # rand(pinned seed) * 0 + 1 == 1, but nondeterministic: ConstantFolding
    # must keep the element_at, so the array literal survives to codegen and
    # is emitted as a references[] entry rather than inlined source.
    idx = (F.rand(42) * 0 + 1).cast("int")
    col = F.element_at(F.lit([value]), idx)
    return col.cast(dtype) if dtype else col
