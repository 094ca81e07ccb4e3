"""Pluggable posting-position codecs — the custom-Codec extension point
(reference: codec/base.py Codec protocol; whoosh3.py:844-850 delta+varint
posting payloads), re-expressed as column transforms chosen at save time.

Three built-ins; ``raw`` is the default:

- ``raw``      — positions stored as ``array<int>`` unchanged.  Fastest
                 build (no extra stage); parquet's own encodings apply.
- ``jvmdelta`` — positions stored as first-order DELTAS, still
                 ``array<int>``, encoded/decoded entirely JVM-side with
                 higher-order functions (whole-stage codegen, NO Python
                 stage).  Small deltas bit-pack a little tighter than
                 absolute positions; costs nothing measurable at build.
- ``varint``   — delta+varint packed ``binary`` via Arrow-batched pandas
                 UDFs (the reference's byte encoding).  LARGER at rest
                 than the other two: parquet dictionary/bit-packs and
                 page-compresses an ``array<int>`` better than it can
                 compress an opaque varint blob.  The chained Python
                 stage also costs build throughput at high core counts
                 (measured 14.4k -> 7.9k docs/s at 1M/32c).

Index bytes per input text byte, 4,000 perfbench docs (seed 5), raw /
jvmdelta / varint: 0.2897 / 0.2889 / 0.3154 with the index writer's
zstd pages (see build.write_table); 0.3657 / 0.3656 / 0.4284 with
Spark's default snappy pages.

``save_index(codec=...)`` records the codec name in stats.json;
``load_index`` applies the decoder lazily, so column pruning keeps
non-positional queries from ever paying for decode.

Custom codecs: register_codec(name, encode_fn, decode_fn) where each fn
maps a Column to a Column — the same surface the built-ins use.
"""

from __future__ import annotations

from typing import Callable, Dict, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F


def _encode_raw(col: Column) -> Column:
    return col


def _decode_raw(col: Column) -> Column:
    return col


def _encode_jvmdelta(col: Column) -> Column:
    # pos[i] - pos[i-1] (first element kept): the 2-arg HOF lambda's second
    # parameter is the 0-based index; element_at is 1-based, so
    # element_at(col, i) IS the previous element.  All JVM-side.
    return F.transform(
        col,
        lambda x, i: F.when(i == F.lit(0), x).otherwise(
            x - F.element_at(col, i)
        ),
    )


def _decode_jvmdelta(col: Column) -> Column:
    # prefix sum via aggregate; element_at(acc, -1) is the running last
    return F.aggregate(
        col,
        F.array().cast("array<int>"),
        lambda acc, x: F.concat(
            acc,
            F.array(
                (
                    F.coalesce(F.try_element_at(acc, F.lit(-1)), F.lit(0)) + x
                ).cast("int")
            ),
        ),
    )


def _encode_varint(col: Column) -> Column:
    from whoosh_reloaded_spark.lengths import make_pack_positions_udf

    return make_pack_positions_udf()(col)


def _decode_varint(col: Column) -> Column:
    from whoosh_reloaded_spark.lengths import make_unpack_positions_udf

    return make_unpack_positions_udf()(col)


_CODECS: Dict[str, Tuple[Callable[[Column], Column],
                         Callable[[Column], Column]]] = {
    "raw": (_encode_raw, _decode_raw),
    "jvmdelta": (_encode_jvmdelta, _decode_jvmdelta),
    "varint": (_encode_varint, _decode_varint),
}


def register_codec(name: str, encode_fn: Callable[[Column], Column],
                   decode_fn: Callable[[Column], Column]) -> None:
    """Custom-Codec hook: both fns map the positions Column."""
    _CODECS[name] = (encode_fn, decode_fn)


def get_codec(name: str):
    if name not in _CODECS:
        raise ValueError(
            f"unknown position codec {name!r}; known: {sorted(_CODECS)}"
        )
    return _CODECS[name]


def codec_names():
    return sorted(_CODECS)
