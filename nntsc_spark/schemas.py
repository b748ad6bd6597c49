"""Schema registry: one ``CollectionSchema`` per reference collection.

The reference declares per-collection stream/data columns as Python dict
lists in each parser (reference: libnntsc/parsers/common.py:51-55;
amp_icmp.py:47-71, amp_dns.py:45-93, ...) and generates DDL from them
(libnntsc/database.py:821-903).  Here the same information is a static
``StructType`` registry; ``df.schema`` replaces the reference's
information_schema probe (libnntsc/dbselect.py:112-139).

Type mapping follows SURVEY.md §1.3: integer kinds -> LongType uniformly,
inet -> StringType, Postgres arrays -> ArrayType with nullable elements
(lost pings are None entries in rtts, amp_icmp.py:168-171).

Every data table shares the fact-table prefix
``stream_id BIGINT NOT NULL, timestamp BIGINT NOT NULL``
(libnntsc/database.py:868-882); timestamps are integer epoch seconds
everywhere (database.py:872, influx.py:135).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _f(name: str, dtype, nullable: bool = True) -> StructField:
    return StructField(name, dtype, nullable)


def _string(*names: str) -> list[StructField]:
    return [_f(n, StringType()) for n in names]


def _long(*names: str) -> list[StructField]:
    return [_f(n, LongType()) for n in names]


def _bool(*names: str) -> list[StructField]:
    return [_f(n, BooleanType()) for n in names]


#: Shared prefix of every fact table (libnntsc/database.py:868-882).
FACT_PREFIX = [
    _f("stream_id", LongType(), nullable=False),
    _f("timestamp", LongType(), nullable=False),
]


@dataclass(frozen=True)
class CollectionSchema:
    """One collection = module/modsubtype + stream schema + data schema.

    Mirrors the ``collections`` catalog row (libnntsc/database.py:558-564):
    (id, module, modsubtype, streamtable, datatable).
    """

    module: str
    modsubtype: str
    stream_fields: list[StructField]
    data_fields: list[StructField]
    #: columns whose combination uniquely identifies a stream
    #: (parser ``uniquecolumns``, e.g. amp_icmp.py:53-55)
    unique_columns: list[str] = field(default_factory=list)
    #: collections that share another collection's streams table
    #: (traceroute family, amp_traceroute.py:44-46)
    shared_stream_of: str | None = None
    #: matrix rollup declarations: (column, agg, output_name) triples,
    #: verbatim from the reference parsers' ``matrix_cq`` lists (e.g.
    #: amp_icmp.py:72-79; registry plumbing cqs.py:74-76 getMatrixCQ).
    #: The reference uses these to create per-collection Influx continuous
    #: queries precomputing exactly these (column, agg) pairs; here they
    #: declare which value columns a collection's stored rollups cover, so
    #: the export server can default its matrix service from the registry
    #: instead of per-deployment config (operators.rollup.build_rollup
    #: emits ALL mergeable stats per declared column, a superset of the
    #: declared agg — the reference adds stats per CQ, influx.py:158-195).
    matrix_cq: list[tuple[str, str, str]] = field(default_factory=list)

    @property
    def name(self) -> str:
        return f"{self.module}-{self.modsubtype}"

    @property
    def rollup_value_cols(self) -> list[str]:
        """Distinct data columns named by matrix_cq, declaration order."""
        seen: list[str] = []
        for col, _agg, _out in self.matrix_cq:
            if col not in seen:
                seen.append(col)
        return seen

    @property
    def stream_table(self) -> str:
        base = self.shared_stream_of or f"{self.module}_{self.modsubtype}"
        return f"streams_{base}"

    @property
    def data_table(self) -> str:
        return f"data_{self.module}_{self.modsubtype}"

    def stream_schema(self) -> StructType:
        return StructType(
            [_f("stream_id", LongType(), nullable=False), *self.stream_fields]
        )

    def data_schema(self) -> StructType:
        return StructType([*FACT_PREFIX, *self.data_fields])


_ICMP_STREAM = [
    *_string("source", "destination", "family", "packet_size"),
]

_ICMP_DATA = [
    _f("median", LongType()),
    _f("packet_size", LongType(), nullable=False),
    _f("loss", LongType()),
    _f("results", LongType()),
    _f("lossrate", DoubleType()),
    _f("rtts", ArrayType(LongType(), containsNull=True)),
]

COLLECTIONS: dict[str, CollectionSchema] = {}


def _register(cs: CollectionSchema) -> CollectionSchema:
    COLLECTIONS[cs.name] = cs
    return cs


# amp-icmp (reference: libnntsc/parsers/amp_icmp.py:41-71)
AMP_ICMP = _register(
    CollectionSchema(
        "amp",
        "icmp",
        _ICMP_STREAM,
        _ICMP_DATA,
        unique_columns=["source", "destination", "packet_size", "family"],
        # amp_icmp.py:72-79
        matrix_cq=[
            ("median", "mean", "median_avg"),
            ("median", "stddev", "median_stddev"),
            ("median", "count", "median_count"),
            ("loss", "sum", "loss_sum"),
            ("results", "sum", "results_sum"),
            ("lossrate", "stddev", "lossrate_stddev"),
        ],
    )
)

# amp-tcpping (amp_tcpping.py:39-72): icmp stream cols + port; data + icmperrors
AMP_TCPPING = _register(
    CollectionSchema(
        "amp",
        "tcpping",
        [*_ICMP_STREAM, _f("port", StringType())],
        [*_ICMP_DATA, _f("icmperrors", LongType())],
        unique_columns=["source", "destination", "port", "packet_size", "family"],
        # inherited unchanged from AmpIcmpParser (amp_tcpping.py:35 extends
        # it without overriding matrix_cq)
        matrix_cq=[
            ("median", "mean", "median_avg"),
            ("median", "stddev", "median_stddev"),
            ("median", "count", "median_count"),
            ("loss", "sum", "loss_sum"),
            ("results", "sum", "results_sum"),
            ("lossrate", "stddev", "lossrate_stddev"),
        ],
    )
)

# amp-dns (amp_dns.py:39-93)
AMP_DNS = _register(
    CollectionSchema(
        "amp",
        "dns",
        [
            *_string(
                "source",
                "destination",
                "instance",
                "address",
                "query",
                "query_type",
                "query_class",
            ),
            _f("udp_payload_size", LongType()),
            *_bool("recurse", "dnssec", "nsid"),
        ],
        [
            *_long(
                "response_size",
                "rtt",
                "ttl",
                "query_len",
                "total_answer",
                "total_authority",
                "total_additional",
                "opcode",
                "rcode",
            ),
            *_bool(
                "flag_rd",
                "flag_tc",
                "flag_aa",
                "flag_qr",
                "flag_cd",
                "flag_ad",
                "flag_ra",
            ),
            _f("requests", LongType(), nullable=False),
            _f("lossrate", DoubleType()),
        ],
        unique_columns=[
            "source",
            "destination",
            "query",
            "address",
            "query_type",
            "query_class",
            "udp_payload_size",
            "recurse",
            "dnssec",
            "nsid",
            "instance",
        ],
        # amp_dns.py matrix_cq
        matrix_cq=[
            ("rtt", "mean", "rtt_avg"),
            ("rtt", "stddev", "rtt_stddev"),
            ("rtt", "count", "rtt_count"),
            ("requests", "sum", "requests_sum"),
            ("lossrate", "stddev", "lossrate_stddev"),
        ],
    )
)

# amp-throughput (amp_throughput.py:38-80)
AMP_THROUGHPUT = _register(
    CollectionSchema(
        "amp",
        "throughput",
        [
            *_string("source", "destination", "direction", "address"),
            *_long("duration", "writesize"),
            _f("tcpreused", BooleanType()),
            _f("protocol", StringType()),
        ],
        [
            *_long("bytes", "packets"),
            _f("rate", DoubleType()),
            _f("runtime", LongType()),
            _f("unused", BooleanType(), nullable=False),
        ],
        unique_columns=[
            "source",
            "destination",
            "direction",
            "duration",
            "writesize",
            "tcpreused",
            "protocol",
        ],
        # amp_throughput.py matrix_cq
        matrix_cq=[
            ("bytes", "sum", "bytes"),
            ("packets", "sum", "packets"),
            ("runtime", "sum", "runtime"),
            ("rate", "stddev", "rate"),
        ],
    )
)

# amp-http (amp_http.py:38-74)
AMP_HTTP = _register(
    CollectionSchema(
        "amp",
        "http",
        [
            *_string("source", "destination"),
            *_long(
                "max_connections",
                "max_connections_per_server",
                "max_persistent_connections_per_server",
                "pipelining_max_requests",
            ),
            *_bool("persist", "pipelining", "caching"),
        ],
        _long("server_count", "object_count", "duration", "bytes"),
        unique_columns=[
            "source",
            "destination",
            "max_connections",
            "max_connections_per_server",
            "max_persistent_connections_per_server",
            "pipelining_max_requests",
            "persist",
            "pipelining",
            "caching",
        ],
        # amp_http.py matrix_cq (reference quotes the Influx identifiers;
        # the quoting is Influx escaping, not part of the column name)
        matrix_cq=[
            ("duration", "mean", "duration_avg"),
            ("duration", "stddev", "duration_stddev"),
            ("bytes", "max", "bytes_max"),
            ("bytes", "mean", "bytes_avg"),
            ("bytes", "stddev", "bytes_stddev"),
        ],
    )
)

# amp-udpstream (amp_udpstream.py:40-99)
AMP_UDPSTREAM = _register(
    CollectionSchema(
        "amp",
        "udpstream",
        [
            *_string("source", "destination", "address", "direction"),
            *_long("packet_size", "packet_spacing", "packet_count"),
            _f("dscp", StringType()),
        ],
        [
            *_long(
                "mean_rtt",
                "mean_jitter",
                "min_jitter",
                "max_jitter",
                *[f"jitter_percentile_{p}" for p in range(10, 101, 10)],
                "packets_sent",
                "packets_recvd",
            ),
            _f("itu_mos", DoubleType()),
            _f("lossrate", DoubleType()),
            _f("unused", BooleanType(), nullable=False),
        ],
        unique_columns=[
            "source",
            "destination",
            "address",
            "direction",
            "packet_size",
            "packet_spacing",
            "packet_count",
            "dscp",
        ],
        # amp_udpstream.py matrix_cq
        matrix_cq=[
            ("packets_sent", "sum", "packets_sent"),
            ("packets_recvd", "sum", "packets_recvd"),
            ("lossrate", "stddev", "lossrate_stddev"),
            ("mean_rtt", "mean", "mean_rtt_avg"),
            ("mean_rtt", "stddev", "mean_rtt"),
            ("mean_rtt", "count", "count_mean_rtt"),
        ],
    )
)

# amp-youtube (amp_youtube.py:39-68)
AMP_YOUTUBE = _register(
    CollectionSchema(
        "amp",
        "youtube",
        [*_string("source", "destination"), _f("quality", LongType())],
        _long(
            "total_time",
            "pre_time",
            "initial_buffering",
            "playing_time",
            "stall_time",
            "stall_count",
        ),
        unique_columns=["source", "destination", "quality"],
        # amp_youtube.py matrix_cq (Influx-quoted in the reference)
        matrix_cq=[
            ("total_time", "mean", "total_time_avg"),
            ("total_time", "stddev", "total_time_stddev"),
            ("pre_time", "mean", "pre_time_avg"),
            ("pre_time", "stddev", "pre_time_stddev"),
            ("initial_buffering", "mean", "initial_buffering_avg"),
            ("initial_buffering", "stddev", "initial_buffering_stddev"),
            ("stall_time", "mean", "stall_time_avg"),
            ("stall_time", "stddev", "stall_time_stddev"),
            ("stall_count", "mean", "stall_count_avg"),
            ("stall_count", "stddev", "stall_count_stddev"),
        ],
    )
)

# amp-fastping (amp_fastping.py:41-72)
AMP_FASTPING = _register(
    CollectionSchema(
        "amp",
        "fastping",
        [
            *_string("source", "destination", "family"),
            *_long("packet_size", "packet_rate", "packet_count"),
            _f("preprobe", BooleanType()),
        ],
        [
            _f("median", LongType()),
            _f("percentiles", ArrayType(LongType(), containsNull=True)),
            _f("lossrate", DoubleType()),
        ],
        unique_columns=[
            "source",
            "destination",
            "family",
            "packet_size",
            "packet_rate",
            "packet_count",
            "preprobe",
        ],
        # amp_fastping.py matrix_cq
        matrix_cq=[
            ("median", "mean", "median_avg"),
            ("median", "stddev", "median_stddev"),
            ("lossrate", "mean", "lossrate_avg"),
            ("lossrate", "stddev", "lossrate_stddev"),
        ],
    )
)

# amp-external (amp_external.py:41-63)
AMP_EXTERNAL = _register(
    CollectionSchema(
        "amp",
        "external",
        _string("source", "destination", "command"),
        _long("value"),
        unique_columns=["source", "destination", "command"],
        # amp_external.py matrix_cq
        matrix_cq=[
            ("value", "mean", "value_avg"),
            ("value", "stddev", "value_stddev"),
        ],
    )
)

# amp-sip (amp_sip.py:40-114)
AMP_SIP = _register(
    CollectionSchema(
        "amp",
        "sip",
        [
            *_string(
                "source", "destination", "proxy", "address", "direction", "filename"
            ),
            _f("repeat", BooleanType()),
            _f("max_duration", LongType()),
            _f("dscp", StringType()),
        ],
        [
            *_long(
                "response_time",
                "connect_time",
                "duration",
                "rtt_max",
                "rtt_min",
                "rtt_mean",
                "rtt_sd",
                "packets",
                "bytes",
                "lost",
                "discarded",
                "reordered",
                "duplicated",
            ),
            _f("mos", DoubleType()),
            _f("unused", BooleanType(), nullable=False),
        ],
        # amp_sip.py:59-62 uniquecolumns — includes address (and direction,
        # which the parser appends per fanned-out row)
        unique_columns=[
            "source",
            "destination",
            "proxy",
            "address",
            "direction",
            "filename",
            "repeat",
            "max_duration",
            "dscp",
        ],
        # amp_sip.py matrix_cq
        matrix_cq=[
            ("response_time", "mean", "response_time_avg"),
            ("response_time", "stddev", "response_time_stddev"),
            ("connect_time", "mean", "connect_time_avg"),
            ("connect_time", "stddev", "connect_time_stddev"),
            ("mos", "mean", "mos_avg"),
            ("mos", "stddev", "mos_stddev"),
            ("rtt_mean", "mean", "rtt_mean_avg"),
            ("rtt_mean", "stddev", "rtt_mean_stddev"),
        ],
    )
)

# amp-traceroute family: three collections share one streams table
# (amp_traceroute.py:44-46, 136-153; amp_traceroute_pathlen.py:40-41)
AMP_TRACEROUTE = _register(
    CollectionSchema(
        "amp",
        "traceroute",
        _ICMP_STREAM,
        [
            _f("path_id", LongType(), nullable=False),
            _f("aspath_id", LongType()),
            _f("packet_size", LongType(), nullable=False),
            _f("error_type", LongType()),
            _f("error_code", LongType()),
            _f("hop_rtt", ArrayType(LongType(), containsNull=True), nullable=False),
        ],
        unique_columns=["source", "destination", "packet_size", "family"],
    )
)

AMP_ASTRACEROUTE = _register(
    CollectionSchema(
        "amp",
        "astraceroute",
        _ICMP_STREAM,
        [
            _f("aspath_id", LongType()),
            _f("packet_size", LongType(), nullable=False),
            _f("errors", LongType()),
            _f("addresses", LongType()),
        ],
        unique_columns=["source", "destination", "packet_size", "family"],
        shared_stream_of="amp_traceroute",
    )
)

AMP_TRACEROUTE_PATHLEN = _register(
    CollectionSchema(
        "amp",
        "traceroute_pathlen",
        _ICMP_STREAM,
        [
            _f("path_length", DoubleType()),
            _f("unused", BooleanType(), nullable=False),
        ],
        unique_columns=["source", "destination", "packet_size", "family"],
        shared_stream_of="amp_traceroute",
        # amp_traceroute_pathlen.py matrix_cq: the one mode rollup; mode is
        # served via the count-weighted rollup merge, the generic stats
        # still cover the declared column
        matrix_cq=[("path_length", "mode", "path_length")],
    )
)

# rrd-smokeping (rrd_smokeping.py:41-78)
RRD_SMOKEPING = _register(
    CollectionSchema(
        "rrd",
        "smokeping",
        [
            *_string("filename", "source", "host", "family"),
            *_long("minres", "highrows"),
        ],
        [
            *_long("loss", "pingsent"),
            _f("median", DoubleType()),
            _f("pings", ArrayType(DoubleType(), containsNull=True)),
            _f("lossrate", DoubleType(), nullable=False),
        ],
        unique_columns=["filename"],
        # rrd_smokeping.py matrix_cq
        matrix_cq=[
            ("median", "mean", "median_avg"),
            ("median", "stddev", "median_stddev"),
            ("median", "count", "median_count"),
            ("loss", "sum", "loss_sum"),
        ],
    )
)

# Dictionary tables for the traceroute family (amp_traceroute.py:89-118)
PATHS_SCHEMA = StructType(
    [
        _f("path_id", LongType(), nullable=False),
        _f("path", ArrayType(StringType()), nullable=False),
        _f("length", LongType(), nullable=False),
    ]
)

ASPATHS_SCHEMA = StructType(
    [
        _f("aspath_id", LongType(), nullable=False),
        _f("aspath", ArrayType(StringType()), nullable=False),
        _f("aspath_length", LongType()),
        _f("uniqueas", LongType()),
        _f("responses", LongType()),
    ]
)
