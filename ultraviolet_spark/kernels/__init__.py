"""Pure-numpy byte-level kernels. No Spark imports here — these run
inside executor Python workers on Arrow batch buffers and are unit-
tested without a SparkSession (SURVEY.md §7 M0)."""

from ultraviolet_spark.kernels.buffers import (  # noqa: F401
    binary_to_offsets,
    offsets_to_pyarrow_binary,
    offsets_to_pyarrow_string,
)
from ultraviolet_spark.kernels.utf8 import (  # noqa: F401
    utf8_decode_replace,
    utf8_to_codepoints,
    utf8_validate,
)
from ultraviolet_spark.kernels.encode import (  # noqa: F401
    codepoints_to_utf8,
    codepoints_to_utf16,
    codepoints_to_utf32,
)
from ultraviolet_spark.kernels.utf16 import utf16_to_codepoints  # noqa: F401
from ultraviolet_spark.kernels.utf32 import utf32_to_codepoints  # noqa: F401
from ultraviolet_spark.kernels.transcode import (  # noqa: F401
    decode_auto,
    decode_to_utf8,
    detect_bom,
    transcode,
)
from ultraviolet_spark.kernels.classify import (  # noqa: F401
    CLASS_NAMES,
    codepoint_class_histogram,
)
from ultraviolet_spark.kernels.extract import extract_text  # noqa: F401
