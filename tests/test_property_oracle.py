"""Property-based cross-check: the distributed engine vs an independent
pandas re-implementation on hypothesis-generated corrupted tables (SURVEY §5:
oracle cross-check + property-based corruption testing)."""

import dataclasses
import datetime as dt

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.plans.runner import validate
from tests.pandas_oracle import count_violations

BASE_TS = dt.datetime(2024, 1, 1)

SPEC = S.TableSpec(
    name="transcripts",
    scope_col="conv_id",
    order_col="turn_idx",
    tiebreakers=("role", "text"),
    columns=(
        S.ColumnSpec(
            "role", (S.Enumeration(("system", "user", "assistant", "tool")),)
        ),
        S.ColumnSpec("text", (S.MinLength(1), S.MaxLength(40))),
        S.ColumnSpec(
            "tool",
            (S.Pattern(("tool-[0-9]{3}",)), S.Required(when="role = 'tool'")),
        ),
        S.ColumnSpec("turn_idx", (S.MinInclusive(0),)),
    ),
    identities=(
        S.Key("turn-key", fields=("turn_idx",), scope="conv_id"),
        # the whole sort key: counted inside the ordered window pass
        S.Unique("turn-row", fields=("turn_idx", "role", "text"),
                 scope="conv_id"),
        S.Keyref(
            "tool-ref",
            fields=("tool",),
            refer_fields=("tool",),
            scope="conv_id",
            selector="role = 'tool'",
            refer_selector="role = 'assistant' AND tool IS NOT NULL",
        ),
    ),
    model=(
        S.Contiguity(),
        S.Monotone("ts-mono", column="ts", strict=False),
        S.Occurs("min-user", where="role = 'user'", min_occurs=1),
        S.FirstTurn("first", where="role IN ('system', 'user')"),
        S.Transition(
            "trans",
            column="role",
            allowed={"system": ("user",), "user": ("assistant", "tool")},
            start=("system", "user"),
        ),
    ),
)

# Without tiebreakers the rows that share a turn_idx have no defined order,
# so this variant keeps only the model checks that do not depend on it; its
# turn-key duplicates are counted in the ordered pass, while SPEC counts
# them in a groupBy.
SPEC_NO_TIEBREAKERS = dataclasses.replace(
    SPEC,
    tiebreakers=(),
    identities=tuple(
        c for c in SPEC.identities if c.name != "turn-row"
    ),
    model=tuple(
        c for c in SPEC.model if isinstance(c, (S.Contiguity, S.Occurs))
    ),
)

row_strategy = st.tuples(
    st.sampled_from(["c0", "c1", "c2"]),                       # conv_id
    st.one_of(st.integers(-1, 6), st.just(None)),              # turn_idx
    st.sampled_from(["system", "user", "assistant", "tool", "alien"]),
    st.sampled_from(["", "ok text", "x" * 50]),                # text
    st.sampled_from([None, "tool-001", "tool-002", "BADTOOL"]),
    st.integers(0, 5),                                         # ts offset
)


_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
_rows = given(rows=st.lists(row_strategy, min_size=1, max_size=25))


@_settings
@_rows
def test_engine_matches_pandas_oracle(spark, rows):
    _check(spark, SPEC, rows)


@_settings
@_rows
def test_engine_matches_pandas_oracle_without_tiebreakers(spark, rows):
    _check(spark, SPEC_NO_TIEBREAKERS, rows)


def _check(spark, spec, rows):
    data = [
        (c, i, r, t, tool, BASE_TS + dt.timedelta(minutes=off))
        for (c, i, r, t, tool, off) in rows
    ]
    sdf = spark.createDataFrame(
        data,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = {
        r["constraint_id"]: r["n_violations"]
        for r in validate(sdf, spec).by_constraint().collect()
    }
    pdf = pd.DataFrame(
        data, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    # pandas None → NaN for ints; keep object dtype for exact None handling
    pdf["turn_idx"] = pdf["turn_idx"].astype("object")
    want = {k: v for k, v in count_violations(pdf, spec).items() if v}
    assert got == want, f"engine={got} oracle={want} rows={data}"
