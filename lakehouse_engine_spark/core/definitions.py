"""Spec dataclasses and enums — the schema of the ACON config language.

Mirrors the public configuration surface of the reference's
``core/definitions.py`` (reference ``core/definitions.py:109-991``), re-typed
for this engine. An ACON is a plain dict; these dataclasses are the parsed,
validated form.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Callable, List, Optional


class InputFormat(str, Enum):
    """Supported input formats (reference ``core/definitions.py:109-126``)."""

    JDBC = "jdbc"
    AVRO = "avro"
    JSON = "json"
    CSV = "csv"
    PARQUET = "parquet"
    DELTA = "delta"
    ORC = "orc"
    TEXT = "text"
    CLOUDFILES = "cloudfiles"
    KAFKA = "kafka"
    SQL = "sql"
    SAP_BW = "sap_bw"
    SAP_B4 = "sap_b4"
    SFTP = "sftp"
    SHAREPOINT = "sharepoint"
    DATAFRAME = "dataframe"
    RATE = "rate"

    @classmethod
    def values(cls) -> set:
        return {i.value for i in cls}

    @classmethod
    def exists(cls, fmt: str) -> bool:
        return fmt in cls.values()


# Formats read via spark.read.load(format=...)
FILE_INPUT_FORMATS = {"avro", "json", "csv", "parquet", "delta", "orc", "text"}


class OutputFormat(str, Enum):
    """Supported output formats (reference ``core/definitions.py:430-447``)."""

    JDBC = "jdbc"
    AVRO = "avro"
    JSON = "json"
    CSV = "csv"
    PARQUET = "parquet"
    DELTA = "delta"
    ORC = "orc"
    TEXT = "text"
    KAFKA = "kafka"
    CONSOLE = "console"
    NOOP = "noop"
    DATAFRAME = "dataframe"
    REST_API = "rest_api"
    SHAREPOINT = "sharepoint"
    FILE = "file"
    TABLE = "table"

    @classmethod
    def values(cls) -> set:
        return {i.value for i in cls}


FILE_OUTPUT_FORMATS = {"avro", "json", "csv", "parquet", "delta", "orc", "text"}


class ReadType(str, Enum):
    """Read modes (reference ``core/definitions.py:501-509``)."""

    BATCH = "batch"
    STREAMING = "streaming"


class ReadMode(str, Enum):
    """Malformed-record handling (reference ``core/definitions.py:512-520``)."""

    PERMISSIVE = "PERMISSIVE"
    FAILFAST = "FAILFAST"
    DROPMALFORMED = "DROPMALFORMED"


class WriteType(str, Enum):
    """Write modes (reference ``core/definitions.py:591-600``)."""

    OVERWRITE = "overwrite"
    COMPLETE = "complete"
    APPEND = "append"
    UPDATE = "update"
    MERGE = "merge"
    ERROR_IF_EXISTS = "error"
    IGNORE_IF_EXISTS = "ignore"


SHAREPOINT_SUPPORTED_EXTENSIONS = {".csv", ".xlsx"}


class InputNotFoundException(Exception):
    """Required input option missing (reference exceptions module)."""


class InvalidSharepointPathException(Exception):
    """Contradictory Sharepoint path setup (reference exceptions module)."""


class NotSupportedException(Exception):
    """Requested mode/feature unsupported by this writer/reader
    (reference ``io/exceptions.py``)."""


class EndpointNotFoundException(Exception):
    """Remote endpoint missing (reference ``io/exceptions.py``)."""


class WriteToLocalException(Exception):
    """Local staging write failed (reference ``io/exceptions.py``)."""


@dataclass
class SharepointFile:
    """A Sharepoint file with metadata and optional content (reference
    ``core/definitions.py:163-199`` — the field set IS the API contract
    shared with the injectable utils/transport)."""

    file_name: str
    time_created: str = ""
    time_modified: str = ""
    content: Optional[bytes] = None
    _folder: Optional[str] = None
    skip_rename: bool = False
    _already_archived: bool = False

    @property
    def file_extension(self) -> str:
        import posixpath

        _, ext = posixpath.splitext(self.file_name)
        return ext

    @property
    def file_path(self) -> str:
        if not self._folder:
            raise AttributeError("file_path unavailable; _folder not set.")
        return f"{self._folder}/{self.file_name}"

    @property
    def is_csv(self) -> bool:
        return self.file_extension.lower() == ".csv"

    @property
    def is_excel(self) -> bool:
        return self.file_extension.lower() == ".xlsx"


@dataclass
class SharepointOptions:
    """Sharepoint I/O options (reference ``core/definitions.py:203-428`` —
    field names, validation rules and error STRINGS are the ACON API
    contract; the checks are condensed here but raise identically)."""

    client_id: Optional[str] = None
    tenant_id: Optional[str] = None
    site_name: Optional[str] = None
    drive_name: Optional[str] = None
    secret: Optional[str] = None
    local_path: Optional[str] = None
    file_name: Optional[str] = None
    api_version: str = "v1.0"
    conflict_behaviour: Optional[str] = None
    allowed_extensions: Optional[Any] = None
    file_type: Optional[str] = None
    folder_relative_path: Optional[str] = None
    file_pattern: Optional[str] = None
    chunk_size: Optional[int] = 100 * 1024 * 1024
    local_options: Optional[dict] = None
    archive_enabled: bool = True
    archive_success_subfolder: Optional[str] = "done"
    archive_error_subfolder: Optional[str] = "error"

    def _allowed(self) -> set:
        return {
            e.lower()
            for e in (self.allowed_extensions or SHAREPOINT_SUPPORTED_EXTENSIONS)
        }

    @staticmethod
    def _ends_supported(value: str, allowed: set) -> bool:
        low = value.lower()
        return any(low.endswith(e) for e in allowed)

    def __post_init__(self) -> None:
        allowed = self._allowed()
        types = {e.lstrip(".") for e in allowed}
        if self.file_type and self.file_type.lower() not in types:
            raise ValueError(
                f"`file_type` must be one of {sorted(types)}. "
                f"Got: '{self.file_type}'"
            )
        if self.folder_relative_path:
            self.folder_relative_path = self.folder_relative_path.strip("/")
            last = self.folder_relative_path.split("/")[-1]
            if "." in last and not self._ends_supported(last, allowed):
                raise ValueError(
                    f"`folder_relative_path` appears to be a file path but "
                    f"does not end with one of {sorted(allowed)}: "
                    f"{self.folder_relative_path}"
                )
            if self._ends_supported(self.folder_relative_path, allowed):
                if self.file_name:
                    raise ValueError(
                        "When `folder_relative_path` points to a file, "
                        "`file_name` must be None."
                    )
                if self.file_pattern:
                    raise ValueError(
                        "When `folder_relative_path` points to a file, "
                        "`file_pattern` must be None."
                    )
                if self.file_type:
                    raise ValueError(
                        "When `folder_relative_path` points to a file, "
                        "`file_type` must be None (it's derived from "
                        "file_path extension)"
                    )
        if self.file_name and self.file_pattern:
            raise ValueError(
                "Conflicting options: provide either `file_name` or "
                "`file_pattern`, not both."
            )

    def validate_for_reader(self) -> None:
        missing = [
            o
            for o in ("site_name", "drive_name", "folder_relative_path")
            if not getattr(self, o)
        ]
        if missing:
            raise InputNotFoundException(
                f"Missing required Sharepoint options for reader: "
                f"{', '.join(missing)}"
            )
        allowed = self._allowed()
        if self.file_name and not self._ends_supported(self.file_name, allowed):
            raise ValueError(
                f"`file_name` must end with one of {sorted(allowed)}, "
                f"got: {self.file_name}"
            )

    def validate_for_writer(self) -> None:
        missing = [
            o
            for o in ("site_name", "drive_name", "local_path")
            if not getattr(self, o)
        ]
        if missing:
            raise InputNotFoundException(
                f"Missing required Sharepoint options for writer: "
                f"{', '.join(missing)}"
            )


@dataclass
class InputSpec:
    """Source specification (reference ``core/definitions.py:604-674``)."""

    spec_id: str
    data_format: Optional[str] = None
    read_type: str = ReadType.BATCH.value
    location: Optional[str] = None
    db_table: Optional[str] = None
    query: Optional[str] = None
    df_name: Optional[Any] = None  # in-memory DataFrame handed through the ACON
    schema: Optional[dict] = None
    schema_path: Optional[str] = None
    enforce_schema_from_table: Optional[str] = None
    options: Optional[dict] = None
    jdbc_args: Optional[dict] = None
    with_filepath: bool = False
    generate_predicates: bool = False
    predicates_add_null: bool = True
    calculate_upper_bound: bool = False
    calc_upper_bound_schema: Optional[str] = None
    temp_view: Optional[str] = None
    sftp_files_format: Optional[str] = None
    sharepoint_opts: Optional["SharepointOptions"] = None

    def __post_init__(self) -> None:
        if self.data_format is None and self.db_table:
            self.data_format = InputFormat.DELTA.value
        if isinstance(self.sharepoint_opts, dict):
            self.sharepoint_opts = SharepointOptions(**self.sharepoint_opts)


@dataclass
class TransformerSpec:
    """One transformer invocation (reference ``core/definitions.py:678-688``)."""

    function: str
    args: dict = field(default_factory=dict)


@dataclass
class TransformSpec:
    """Ordered transformer chain over one input (reference ``core/definitions.py:692-710``)."""

    spec_id: str
    input_id: str
    transformers: List[TransformerSpec] = field(default_factory=list)
    force_streaming_foreach_batch_processing: bool = False


class DQType(str, Enum):
    """Data-quality process types (reference ``core/definitions.py:713-717``)."""

    VALIDATOR = "validator"
    PRISMA = "prisma"


@dataclass
class DQFunctionSpec:
    """One expectation (reference ``core/definitions.py:740-749``)."""

    function: str
    args: dict = field(default_factory=dict)


@dataclass
class DQSpec:
    """Data-quality process spec (reference ``core/definitions.py:753-877``)."""

    spec_id: str
    input_id: str
    dq_type: str = DQType.VALIDATOR.value
    dq_functions: List[DQFunctionSpec] = field(default_factory=list)
    critical_functions: List[DQFunctionSpec] = field(default_factory=list)
    unexpected_rows_pk: Optional[List[str]] = None
    tbl_to_derive_pk: Optional[str] = None
    execution_point: Optional[str] = None
    gx_result_format: str = "COMPLETE"
    fail_on_error: bool = True
    max_percentage_failure: Optional[float] = None
    tag_source_data: bool = False
    result_sink_db_table: Optional[str] = None
    result_sink_location: Optional[str] = None
    result_sink_format: str = OutputFormat.DELTA.value
    result_sink_options: Optional[dict] = None
    result_sink_partitions: Optional[List[str]] = None
    # reference GE-store keys: store_backend selects where validation
    # artifacts live ("file_system" | "s3"); local_fs_root_dir is the
    # file_system store root — the native engine writes one JSON
    # artifact per run there (its result SINK is the primary output).
    # result_sink_extra_columns ("validation_results.result.*"-style)
    # is accepted for parity: the native sink always flattens the
    # per-expectation result fields as columns.
    store_backend: str = "file_system"
    local_fs_root_dir: Optional[str] = None
    result_sink_extra_columns: Optional[List[str]] = None
    # accepted for reference parity: the native sink is ALWAYS exploded
    # (one row per expectation); False would ask for the raw GE payload
    # shape, which has no native equivalent — the factory warns
    result_sink_explode: bool = True
    source: Optional[str] = None
    cache_df: bool = False


@dataclass
class MergeOptions:
    """MERGE INTO options (reference ``core/definitions.py:881-906``)."""

    merge_predicate: str
    insert_only: bool = False
    delete_predicate: Optional[str] = None
    update_predicate: Optional[str] = None
    insert_predicate: Optional[str] = None
    update_column_set: Optional[dict] = None
    insert_column_set: Optional[dict] = None


@dataclass
class OutputSpec:
    """Sink specification (reference ``core/definitions.py:910-974``)."""

    spec_id: str
    input_id: str
    write_type: str = WriteType.APPEND.value
    data_format: str = OutputFormat.DELTA.value
    db_table: Optional[str] = None
    location: Optional[str] = None
    partitions: Optional[List[str]] = None
    # Bucketed tables co-locate join/agg keys so repeated big joins on the
    # same key skip their shuffle entirely (beyond reference parity; Spark
    # requires a catalog table, i.e. db_table, for bucketed writes).
    bucket_cols: Optional[List[str]] = None
    bucket_num: Optional[int] = None
    sort_cols: Optional[List[str]] = None
    merge_opts: Optional[MergeOptions] = None
    options: Optional[dict] = None
    streaming_micro_batch_transformers: List[TransformerSpec] = field(default_factory=list)
    streaming_micro_batch_dq_processors: List["DQSpec"] = field(default_factory=list)
    streaming_once: Optional[bool] = None
    streaming_processing_time: Optional[str] = None
    streaming_available_now: bool = True
    streaming_continuous: Optional[str] = None
    streaming_await_termination: bool = True
    streaming_await_termination_timeout: Optional[int] = None
    with_batch_id: bool = False
    sharepoint_opts: Optional["SharepointOptions"] = None

    def __post_init__(self) -> None:
        if isinstance(self.sharepoint_opts, dict):
            self.sharepoint_opts = SharepointOptions(**self.sharepoint_opts)


@dataclass
class TerminatorSpec:
    """Post-write action (reference ``core/definitions.py:978-991``)."""

    function: str
    args: dict = field(default_factory=dict)


class SensorStatus(str, Enum):
    """Sensor states (reference ``core/definitions.py:1073-1080``)."""

    ACQUIRED_NEW_DATA = "ACQUIRED_NEW_DATA"
    PROCESSED_NEW_DATA = "PROCESSED_NEW_DATA"


@dataclass
class SensorSpec:
    """Sensor spec (reference ``core/definitions.py:1083-1135``)."""

    sensor_id: str
    assets: List[str]
    control_db_table_name: str
    input_spec: InputSpec
    preprocess_query: Optional[str] = None
    checkpoint_location: Optional[str] = None
    fail_on_empty_result: bool = True


class GABCadence(str, Enum):
    """GAB cadences (reference ``core/definitions.py:1355-1395``)."""

    DAY = "DAY"
    WEEK = "WEEK"
    MONTH = "MONTH"
    QUARTER = "QUARTER"
    YEAR = "YEAR"

    @classmethod
    def ordered(cls) -> List[str]:
        return ["DAY", "WEEK", "MONTH", "QUARTER", "YEAR"]


@dataclass
class GABSpec:
    """Gold Asset Builder spec (reference ``core/definitions.py:1281-1352``)."""

    query_label_filter: List[str]
    queue_filter: List[str]
    cadence_filter: List[str]
    target_database: str
    curr_date: Any
    start_date: Any
    end_date: Any
    rerun_flag: str
    target_table: str
    source_database: str
    gab_base_path: str
    lookup_table: str
    calendar_table: str


class HeartbeatStatus(str, Enum):
    """Heartbeat job states (reference ``core/definitions.py:1849-1855``)."""

    NEW_EVENT_AVAILABLE = "NEW_EVENT_AVAILABLE"
    IN_PROGRESS = "IN_PROGRESS"
    COMPLETED = "COMPLETED"


@dataclass
class HeartbeatConfigSpec:
    """Heartbeat fleet config (reference ``core/definitions.py:1760-1826``).

    The reference's Databricks ``token``/``domain`` fields are replaced by an
    injectable job-runner callable on the Heartbeat algorithm itself.
    """

    sensor_source: str
    data_format: str
    heartbeat_sensor_db_table: str
    lakehouse_engine_sensor_db_table: str
    options: Optional[dict] = None
    jdbc_db_table: Optional[str] = None
    base_checkpoint_location: Optional[str] = None
    base_trigger_file_location: Optional[str] = None
    schema_dict: Optional[dict] = None


class TerminatorFunction(str, Enum):
    """Registered terminator functions (reference ``terminators/terminator_factory.py:19-52``)."""

    OPTIMIZE_DATASET = "optimize_dataset"
    NOTIFY = "notify"
    EXPOSE_CDF = "expose_cdf"
    TERMINATE_SPARK = "terminate_spark"


# Result-sink schema contract for the native DQ engine — mirrors the exploded
# Great-Expectations result shape (reference ``dq_processors/dq_factory.py:476-527``).
DQ_RESULT_SINK_COLUMNS = [
    "checkpoint_config",
    "run_name",
    "run_time",
    "run_results",
    "success",
    "validation_result_identifier",
    "spec_id",
    "input_id",
    "expectation_type",
    "kwargs",
    "expectation_success",
    "unexpected_count",
    "unexpected_percent",
    "element_count",
    "source",
]

# dq_validations struct appended to source rows when tag_source_data=True
# (reference ``core/definitions.py:563-588``).
DQ_VALIDATIONS_COL = "dq_validations"


class CollectEngineUsage(str, Enum):
    """Engine-usage collection switch (``utils/engine_usage.py``)."""

    ENABLED = "enabled"
    PROD_ONLY = "prod_only"
    DISABLED = "disabled"


@dataclass
class EngineConfig:
    """Engine-level config (subset of reference ``core/definitions.py:41-77``)."""

    dq_bucket: Optional[str] = None
    notif_disallowed_email_servers: Optional[list] = None
    engine_usage_path: Optional[str] = None
    engine_dev_usage_path: Optional[str] = None
    collect_engine_usage: str = CollectEngineUsage.DISABLED.value


SENSOR_SCHEMA_DDL = (
    "sensor_id STRING NOT NULL, assets ARRAY<STRING>, status STRING, "
    "status_change_timestamp TIMESTAMP, checkpoint_location STRING, "
    "upstream_key STRING, upstream_value STRING"
)


class CustomTransformerError(Exception):
    """Raised when a custom transformer fails."""


class WrongArgumentsError(Exception):
    """Raised when an ACON carries invalid/missing arguments."""


class ReconciliationFailedException(Exception):
    """Raised when reconciliation breaches a yellow/red threshold."""


class DQValidationsFailedException(Exception):
    """Raised when data-quality validations fail."""


class DQSpecMalformedException(Exception):
    """Raised when a DQ spec (e.g. PRISMA rule import) is malformed."""


class NoNewDataException(Exception):
    """Raised by sensors when no new data is available."""


class SensorAlreadyExistsException(Exception):
    """Raised when a sensor with a different upstream already exists."""
