"""Row-for-row equivalence: the arrow chain vs the pandas reference
chain (tests/parse_reference.py), over the full generated corpus (all
four text classes) plus the hand-golden edge cases from test_parse."""

from __future__ import annotations

import duckdb
import pandas as pd
import pyarrow as pa
import pytest

from parse_reference import parse_chain_pd
from rsyslog_spark.parse.arrow_chain import parse_chain_arrow
from rsyslog_spark.schema import PARSED_STRUCT
from rsyslog_spark.sources.transcripts import transcripts_sql_duckdb

RECV = pd.Timestamp("2024-06-15 12:00:00")

EDGE_CASES = [
    "Jan  5 10:01:02 host01 app[42]: hello",
    "Dec 25 23:59:59 h a: m",
    "Jan  5 10:00:00 host01 word rest",
    "Jan  5 10:00:00 app[42]: m",
    "Jan  5 10:00:00 abc-. rest",
    "Jan  5 10:00:00 onlyhost",
    '{"a":1}',
    "   [1,2]",
    "host01 app: m",
    " Jan  5 10:00:00 h a: m",
    "2024-02-03T01:02:03+02:00 myhost app: x",
    "1 2024-01-05T10:02:03.5Z h01 app 77 MID [x@1 a=\"b\"] the msg",
    "1 - - - - - just msg",
    "1 - host app - MID - m",
    r'1 - h a p m [x@1 k="a\]b"] msg',
    '1 - h a p m [x@1 k="v"][y@2 j="w"] msg',
    "1 - h a p m -",
    "2 2024-01-05T10:02:03Z h a p m - msg",
    "1 2024-01-05T10:00:00-03:30 h a p m - x",
    "garbage text",
    "",
    "1 bogus-not-a-header",
]


def _chain(with_lastmsg):
    return ("lastmsg",) * with_lastmsg + ("rfc5424", "rfc3164")


def _compare(after, fac, recv, fromhost, has_pri, require_header,
             parsers=("rfc5424", "rfc3164")):
    ref = parse_chain_pd(
        after, fac, recv, fromhost, has_pri, parsers=parsers,
        require_header=require_header,
    ).reset_index(drop=True)
    got_arrays = parse_chain_arrow(
        pa.Array.from_pandas(after, type=pa.string()),
        pa.Array.from_pandas(fac, type=pa.int64()),
        pa.Array.from_pandas(recv, type=pa.timestamp("us")),
        pa.Array.from_pandas(fromhost, type=pa.string()),
        pa.Array.from_pandas(has_pri, type=pa.bool_()),
        parsers=parsers,
        require_header=require_header,
    )
    got = pd.DataFrame({k: v.to_pandas() for k, v in got_arrays.items()})
    for col in ref.columns:
        a, b = ref[col], got[col]
        if col == "protocol_version":
            a = a.astype("int64")
            b = b.astype("int64")
        mism = ~((a == b) | (a.isna() & b.isna()))
        assert not mism.any(), (
            f"col {col!r}: {mism.sum()} mismatches, first at "
            f"{mism.idxmax()}: ref={a[mism.idxmax()]!r} "
            f"got={b[mism.idxmax()]!r} input={after[mism.idxmax()]!r}"
        )
    return got


# one parser owns every row of these batches (lastmsg only when it is
# on the chain; otherwise the lastmsg rows fall to rfc3164)
ONE_PARSER = {
    "rfc5424": [t for t in EDGE_CASES if t.startswith("1 ")],
    "rfc3164": [t for t in EDGE_CASES if not t.startswith("1 ")],
    "lastmsg": ["last message repeated 3 times",
                "  last message repeated 12 TIMES",
                "last message repeated 7 times"],
}
MIXED = [
    "1 - h a p m - first",
    "last message repeated 2 times",
    "Jan  5 10:00:00 h a: third",
    "1 2024-01-05T10:00:00Z h a p m - fourth",
    "garbage fifth",
    "  last message repeated 9 times",
    "Jan  5 10:00:00 h a: seventh",
]


class TestArrowChainEquivalence:
    @pytest.mark.parametrize("require_header", [True, False])
    def test_edge_cases(self, require_header):
        n = len(EDGE_CASES)
        _compare(
            pd.Series(EDGE_CASES),
            pd.Series([1] * n),
            pd.Series([RECV] * n),
            pd.Series(["rxhost"] * n),
            pd.Series([True, False] * (n // 2) + [True] * (n % 2)),
            require_header,
        )

    def test_invalid_facility(self):
        _compare(
            pd.Series(["<999 whatever", "Jan  5 10:00:00 h a: m"]),
            pd.Series([24, 24]),
            pd.Series([RECV, RECV]),
            pd.Series(["rx", "rx"]),
            pd.Series([True, True]),
            False,
        )

    def test_generated_corpus(self):
        df = duckdb.sql(
            transcripts_sql_duckdb("/root/testdata/sf0.01")
        ).df()
        after = df["text"].str.replace(r"^<\d{0,4}>", "", regex=True)
        fac = ((df["i"] % 24).where(df["text"].str.startswith("<"), 1)).astype(
            "int64"
        )
        _compare(
            after,
            fac,
            df["ts"],
            pd.Series([""] * len(df)),
            df["text"].str.startswith("<"),
            True,
        )

    def test_year_rollover(self):
        _compare(
            pd.Series(["Dec 31 23:00:00 h a: m", "Jan  1 00:00:05 h a: m"]),
            pd.Series([1, 1]),
            pd.Series(
                [pd.Timestamp("2025-01-01 00:05:00"),
                 pd.Timestamp("2024-12-31 23:59:00")]
            ),
            pd.Series(["rx", "rx"]),
            pd.Series([True, True]),
            False,
        )


class TestOwnedRows:
    """parse_chain_arrow runs each parser on the rows it owns and
    scatters the parts back: batches where a parser owns nothing, empty
    and all-null batches, and input order."""

    @pytest.mark.parametrize("require_header", [True, False])
    @pytest.mark.parametrize("with_lastmsg", [True, False])
    @pytest.mark.parametrize("owner", sorted(ONE_PARSER))
    def test_one_parser_owns_all(self, owner, with_lastmsg, require_header):
        texts = ONE_PARSER[owner]
        n = len(texts)
        got = _compare(
            pd.Series(texts), pd.Series([1] * n), pd.Series([RECV] * n),
            pd.Series(["rx"] * n), pd.Series([i % 2 == 0 for i in range(n)]),
            require_header, parsers=_chain(with_lastmsg),
        )
        # 3164 may decline a row (require_header): it then fails
        fallback = {"rfc3164", "none"}
        want = {
            "rfc5424": {"rfc5424"},
            "rfc3164": fallback,
            "lastmsg": {"lastmsg"} if with_lastmsg else fallback,
        }[owner]
        assert set(got["parser"]) <= want

    @pytest.mark.parametrize("require_header", [True, False])
    @pytest.mark.parametrize("with_lastmsg", [True, False])
    def test_mixed_order_kept(self, with_lastmsg, require_header):
        n = len(MIXED)
        got = _compare(
            pd.Series(MIXED), pd.Series([1] * n), pd.Series([RECV] * n),
            pd.Series([f"rx{i}" for i in range(n)]), pd.Series([False] * n),
            require_header, parsers=_chain(with_lastmsg),
        )
        repeated = "lastmsg" if with_lastmsg else (
            "none" if require_header else "rfc3164")
        garbage = "none" if require_header else "rfc3164"
        assert got["parser"].tolist() == [
            "rfc5424", repeated, "rfc3164", "rfc5424", garbage, repeated,
            "rfc3164",
        ]
        for i, word in {0: "first", 2: "third", 3: "fourth", 6: "seventh"}.items():
            assert got["msg"][i].strip() == word
        # rows that keep the whole text and the received host, each with
        # its own row's values
        whole = [i for i, p in enumerate(got["parser"]) if p in ("lastmsg", "none")]
        assert whole == sorted(
            ([1, 5] if repeated != "rfc3164" else []) + ([4] if require_header else []))
        for i in whole:
            assert got["msg"][i] == MIXED[i]
            assert got["hostname"][i] == f"rx{i}"

    @pytest.mark.parametrize("with_lastmsg", [True, False])
    def test_empty_batch(self, with_lastmsg):
        out = parse_chain_arrow(
            pa.array([], pa.string()), pa.array([], pa.int64()),
            pa.array([], pa.timestamp("us")), pa.array([], pa.string()),
            pa.array([], pa.bool_()), require_header=True,
            parsers=_chain(with_lastmsg),
        )
        assert list(out) == [f.name for f in PARSED_STRUCT.fields]
        for f in PARSED_STRUCT.fields:
            assert len(out[f.name]) == 0
            want = {"protocol_version": pa.int32(), "parse_success": pa.bool_(),
                    "timereported": pa.timestamp("us")}.get(f.name, pa.string())
            assert out[f.name].type == want, f.name

    @pytest.mark.parametrize("require_header", [True, False])
    def test_all_null_text(self, require_header):
        # a null after-PRI text parses as '' (the worker never sends
        # one: decode_pri_arrow maps a null message to '')
        n = 3
        args = [pa.array([1] * n, pa.int64()),
                pa.array([RECV] * n, pa.timestamp("us")),
                pa.array(["rx"] * n), pa.array([False] * n)]
        nulls = parse_chain_arrow(pa.nulls(n, pa.string()), *args,
                                  require_header=require_header)
        empty = parse_chain_arrow(pa.array([""] * n), *args,
                                  require_header=require_header)
        assert {k: v.to_pylist() for k, v in nulls.items()} == {
            k: v.to_pylist() for k, v in empty.items()}
        _compare(pd.Series([""] * n), pd.Series([1] * n),
                 pd.Series([RECV] * n), pd.Series(["rx"] * n),
                 pd.Series([False] * n), require_header)

    def test_null_reception_time(self):
        """A null reception time stays null where a row falls back to it
        (discard, lastmsg, a '-' timestamp); stated dates are kept, the
        instance after-time year included."""
        from rsyslog_spark.parse.pm3164 import Pm3164Options

        cases = [  # (text, parser, timereported)
            ("x", "none", None),
            ("last message repeated 2 times", "lastmsg", None),
            ("1 - h a - - - m", "rfc5424", None),
            ("1 2024-01-05T10:00:00Z h a - - - m", "rfc5424",
             "2024-01-05 10:00"),
            ("2021-01-05T10:00:00Z h a: x", "rfc3164", "2021-01-05 10:00"),
            ("2022 Jan  5 10:00:00 h a: x", "rfc3164", "2022-01-05 10:00"),
            ("Mar 10 01:00:00 2023 h tag: c", "rfc3164", "2023-03-10 01:00"),
        ]
        n = len(cases)
        out = parse_chain_arrow(
            pa.array([c[0] for c in cases]), pa.array([1] * n, pa.int64()),
            pa.nulls(n, pa.timestamp("us")), pa.array(["rx"] * n),
            pa.array([False] * n), parsers=("lastmsg", "rfc5424", "rfc3164"),
            require_header=True, opts=Pm3164Options(True),
        )
        assert out["parser"].to_pylist() == [c[1] for c in cases]
        assert out["timereported"].to_pylist() == [
            c[2] and pd.Timestamp(c[2]) for c in cases]

    @pytest.mark.parametrize(
        "parsers",
        [("rfc5424", "rfc3164"), ("lastmsg", "rfc5424", "rfc3164"),
         ("rfc3164", "rfc5424")],
    )
    def test_with_parsed_rows_aligned(self, spark, parsers):
        # pass-through columns (i, ts) must stay on the row whose text
        # each parser part parsed; with 3164 first it owns every row
        # with a PRI, the 5424 ones too
        def text(i):
            return [f"<13>1 - h a p m - tok{i}",
                    f"<13>Jan  5 10:00:00 h a: tok{i}",
                    f"last message repeated {i} times",
                    None][i % 4]

        def ts(i):
            return (RECV + pd.Timedelta(seconds=i)).to_pydatetime()

        df = spark.createDataFrame(
            [(i, text(i), ts(i)) for i in range(80)],
            "i int, text string, ts timestamp",
        ).repartition(3)
        from rsyslog_spark.parse import with_parsed

        rows = with_parsed(df, parsers=parsers, require_header=True).collect()
        assert sorted(r["i"] for r in rows) == list(range(80))
        for r in rows:
            i, kind = r["i"], r["i"] % 4
            assert r["timegenerated"] == ts(i)
            assert r["rawmsg"] == text(i)
            if kind == 0 and parsers[0] == "rfc3164":
                assert (r["parser"], r["hostname"], r["msg"]) == (
                    "rfc3164", "1", f" h a p m - tok{i}")
            elif kind == 0:
                assert (r["parser"], r["msg"]) == ("rfc5424", f"tok{i}")
            elif kind == 1:
                assert (r["parser"], r["msg"]) == ("rfc3164", f" tok{i}")
            elif kind == 2:
                want = "lastmsg" if "lastmsg" in parsers else "none"
                assert (r["parser"], r["msg"]) == (want, text(i))
                assert r["timereported"] == r["timegenerated"]
            else:
                # a null message: LOG_PRI_INVLD -> headerless 3164
                assert (r["pri"], r["syslogfacility"], r["parser"]) == (
                    199, 24, "rfc3164")
