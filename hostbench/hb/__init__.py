"""Support modules of the hosted end-to-end benchmark (see ../README.md)."""
