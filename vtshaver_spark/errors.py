"""Error types mirroring the reference's validation surface.

The reference raises plain Error/TypeError with exact messages
(/root/reference/src/filters.cpp:41-157, src/shave.cpp:360-467); tests
assert on the messages verbatim, so we keep them stable here too.
"""


class FilterError(TypeError):
    """Raised when a style filter cannot be compiled.

    Mirrors mbgl conversion errors surfaced through the reference's
    Filters constructor (/root/reference/src/filters.cpp:108-127).
    """


class ShaveError(ValueError):
    """Raised on invalid shave() options (src/shave.cpp:360-467 parity)."""


# Exact reference error strings (asserted by the reference's own tests;
# see /root/reference/test/vtshaver.test.js:697-948 and
# test/propertyKeyValueFilter-Error.test.js).
MSG_FILTERS_NOT_OBJECT = "filters must be an object and cannot be null or undefined"
MSG_LAYER_NOT_OBJECT = "layer must be an object and cannot be null or undefined"
MSG_MINZOOM_POSITIVE = "Value for 'minzoom' must be a positive number."
MSG_MAXZOOM_POSITIVE = "Value for 'maxzoom' must be a positive number."
MSG_MINZOOM_REQUIRED = "Filter must include a minzoom property."
MSG_MAXZOOM_REQUIRED = "Filter must include a maxzoom property."
MSG_FILTERS_MALFORMED = "Filters is not properly constructed."
MSG_PROPERTIES_MALFORMED = "Property-Filters is not properly constructed."
MSG_INVALID_FILTER_VALUE = "invalid filter value, must be an array or a boolean"
MSG_MIXED_FILTER = (
    "Unable to create Filter object, ensure all filters are expression-based"
)
MSG_LEGACY_PROPERTY = "filter property must be a string"
MSG_ZOOM_REQUIRED = "option 'zoom' not provided. Please provide a zoom level for this tile."
MSG_ZOOM_TYPE = "option 'zoom' must be a positive integer."
MSG_MAXZOOM_TYPE = "option 'maxzoom' must be a positive integer."
MSG_COMPRESS_TYPE = "compress option 'type' must be a string"
MSG_COMPRESS_UNKNOWN = "compress type must equal 'none' or 'gzip'"
MSG_COMPRESS_NOT_PROVIDED = (
    "compress option 'type' not provided. Please provide "
    "a compression type if using the compress option"
)
MSG_COMPRESS_LEVEL = "compress option 'level' must be an unsigned integer"


def validate_compress(compress) -> bool:
    """Validate the reference's ``{type: none|gzip, level?}`` compress
    contract (src/shave.cpp:412-446) and return the effective boolean.
    A bare bool is accepted for programmatic use; None means no
    compression."""
    if compress is None:
        return False
    if isinstance(compress, bool):
        return compress
    if not isinstance(compress, dict):
        raise ShaveError(MSG_COMPRESS_TYPE)
    if "type" not in compress:
        raise ShaveError(MSG_COMPRESS_NOT_PROVIDED)
    ctype = compress["type"]
    if not isinstance(ctype, str):
        raise ShaveError(MSG_COMPRESS_TYPE)
    if ctype not in ("none", "gzip"):
        raise ShaveError(MSG_COMPRESS_UNKNOWN)
    if "level" in compress:
        level = compress["level"]
        if not isinstance(level, int) or isinstance(level, bool) or level < 0:
            raise ShaveError(MSG_COMPRESS_LEVEL)
        if level > 9:
            # zlib's range; past it every encode task dies mid-job
            raise ShaveError("compress option 'level' must be at most 9")
    return ctype == "gzip"


def compress_level(compress):
    """The validated gzip ``level`` from a compress option, or None for
    the encoder default — the reference threads level through to zlib
    (src/shave.cpp:412-446); r2 validated it but ignored it."""
    if isinstance(compress, dict) and "level" in compress:
        validate_compress(compress)
        return int(compress["level"])
    return None
