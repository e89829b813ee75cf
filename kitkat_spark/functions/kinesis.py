"""One Arrow pass per Kinesis record: KPL deaggregation and zlib inflate.

The reference's consume loop decodes each record in one go: deaggregate a
KPL blob into its inner records, inflate each payload when ``--compress
zlib`` is set, render (consumer.go:148-209). ``kinesis_decode_udf`` does
the first two steps for an Arrow batch of outer records in a single Python
call, so a consume query crosses the JVM/Python boundary once per record
instead of once for the blob and again for every inner payload.

Per outer record it returns the ``array<struct<partition_key, data, tags>>``
that ``explode_outer`` turns into rows:

- a KPL blob (magic prefix) -> one element per inner record, as
  ``deaggregate_blob`` decodes it (every magic/md5/protobuf check is that
  function's); a blob that fails them -> an empty array;
- any other payload, null included -> one element with the outer
  partition key and null tags.

With ``inflate`` set, every element's payload is ``_decompress_one`` of it:
inflated, or passed through unchanged when it does not inflate.

The output is built column by column (offsets over flat key/payload/tag
arrays), not as Python dicts that Arrow would then have to convert.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type

from kitkat_spark.functions.compression import _decompress_one
from kitkat_spark.functions.kpl import INNER_RECORD_TYPE, KPL_MAGIC, deaggregate_blob
from kitkat_spark.functions.udf import per_context

_ARROW_TYPE = to_arrow_type(INNER_RECORD_TYPE)
_STRUCT_TYPE = _ARROW_TYPE.value_type


def decode_records(data: pa.Array, partition_key: pa.Array, inflate: pa.Array) -> pa.ListArray:
    """The inner records of each outer record (module docstring), as one
    Arrow list array aligned with ``data``."""
    offsets = [0]
    keys: list = []
    payloads: list = []
    tag_starts: list = []  # per inner record; None marks a null map
    tag_keys: list[str] = []
    tag_values: list = []
    for blob, pk, z in zip(data.to_pylist(), partition_key.to_pylist(), inflate.to_pylist()):
        if blob is not None and blob.startswith(KPL_MAGIC):
            for rec in deaggregate_blob(blob):
                keys.append(rec["partition_key"])
                payloads.append(_decompress_one(rec["data"]) if z else rec["data"])
                tag_starts.append(len(tag_keys))
                tag_keys.extend(rec["tags"])
                tag_values.extend(rec["tags"].values())
        else:
            keys.append(pk)
            payloads.append(_decompress_one(blob) if z else blob)
            tag_starts.append(None)
        offsets.append(len(keys))
    tags = pa.MapArray.from_arrays(
        pa.array(tag_starts + [len(tag_keys)], pa.int32()),
        pa.array(tag_keys, pa.string()),
        pa.array(tag_values, pa.string()),
        type=_STRUCT_TYPE.field("tags").type,
    )
    inner = pa.StructArray.from_arrays(
        [pa.array(keys, pa.string()), pa.array(payloads, pa.binary()), tags],
        fields=list(_STRUCT_TYPE),
    )
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), inner, type=_ARROW_TYPE)


@per_context(F.arrow_udf(INNER_RECORD_TYPE))
def kinesis_decode_udf(data: pa.Array, partition_key: pa.Array, inflate: pa.Array) -> pa.Array:
    """Arrow-batched ``decode_records``; pair with explode_outer()."""
    return decode_records(data, partition_key, inflate)
