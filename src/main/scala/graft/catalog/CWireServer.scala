package graft.catalog

import java.util.Locale

/**
 * The C daemon's line protocol (`csrc/bloomd/conn_handler.c`) over a
 * SketchCatalog: every response string matches `handler_constants.c`
 * byte-for-byte, including the trailing `\n` the daemon writes
 * (`conn_handler.c:573-615`), `%f`-formatted probabilities
 * (6 decimals), the `START\n...END\n` list/info framing
 * (`conn_handler.c:384-530`), and the arity error messages of
 * `handle_filt_key_cmd` / `handle_filt_multi_key_cmd`
 * (`conn_handler.c:135-228`).
 *
 * Dispatch mirrors `determine_client_command`
 * (`conn_handler.c:650-690`): check/c, multi/m, set/s, bulk/b,
 * create, drop, close, clear, list, info, flush; anything else is
 * "Client Error: Command not supported".
 */
class CWireServer(val catalog: SketchCatalog) {

  private def yesNo(b: Boolean): String = if (b) "Yes" else "No"
  private def clientErr(msg: String): String = s"Client Error: $msg\n"

  def interpret(lineRaw: String): String = {
    val line = lineRaw.stripSuffix("\n").stripSuffix("\r")
    val tokens = line.split(" ").filter(_.nonEmpty).toList
    tokens match {
      case Nil => clientErr("Command not supported")
      case cmd :: args => cmd match {
        case "check" | "c" => singleKey(args, catalog.checkKeyLocal)
        case "set" | "s" => singleKey(args, catalog.setKeyLocal)
        case "multi" | "m" => multiKey(args, catalog.checkKeyLocal)
        case "bulk" | "b" => multiKey(args, catalog.setKeyLocal)
        case "create" => createCmd(args)
        case "drop" => nameCmd(args, catalog.drop)
        case "close" => nameCmd(args, catalog.close)
        case "clear" => nameCmd(args, catalog.clear)
        case "flush" => flushCmd(args)
        case "list" => listCmd(args)
        case "info" => infoCmd(args)
        case _ => clientErr("Command not supported")
      }
    }
  }

  private def singleKey(args: List[String],
                        op: (String, String) => Either[String, Boolean]): String =
    args match {
      case name :: key :: Nil => op(name, key) match {
        case Left(err) => err + "\n"
        case Right(b) => yesNo(b) + "\n"
      }
      case _ => clientErr("Must provide filter name and key")
    }

  private def multiKey(args: List[String],
                       op: (String, String) => Either[String, Boolean]): String =
    args match {
      case name :: keys if keys.nonEmpty =>
        // the first error answers the command: the filter can be
        // dropped between two of its keys
        val results = keys.map(op(name, _))
        results.collectFirst { case Left(err) => err + "\n" }
          .getOrElse(results.collect { case Right(b) => yesNo(b) }.mkString(" ") + "\n")
      case _ => clientErr("Must provide filter name and key")
    }

  private def createCmd(args: List[String]): String = args match {
    case Nil => clientErr("Must provide filter name")
    case name :: params =>
      var capacity = -1L
      var p = -1.0
      var inMemory = false
      params.foreach {
        case a if a.startsWith("capacity=") =>
          a.stripPrefix("capacity=").toLongOption match {
            case Some(v) => capacity = v
            case None => return clientErr("Bad arguments")
          }
        case a if a.startsWith("prob=") =>
          a.stripPrefix("prob=").toDoubleOption match {
            case Some(v) => p = v
            case None => return clientErr("Bad arguments")
          }
        case a if a.startsWith("in_memory=") =>
          a.stripPrefix("in_memory=").toIntOption match {
            case Some(v) => inMemory = v > 0
            case None => return clientErr("Bad arguments")
          }
        case _ => return clientErr("Bad arguments")
      }
      catalog.create(name, capacity, p, inMemory) match {
        case m @ ("Done" | "Exists" | "Delete in progress") => m + "\n"
        case err => err + "\n" // already "Client Error: ..."
      }
  }

  private def nameCmd(args: List[String], op: String => String): String = args match {
    case Nil => clientErr("Must provide filter name")
    case _ :: _ :: _ => clientErr("Unexpected arguments")
    case name :: Nil => op(name) + "\n"
  }

  private def flushCmd(args: List[String]): String = args match {
    case Nil => catalog.flush() + "\n"
    case name :: Nil => catalog.flush(name) + "\n"
    case _ => clientErr("Unexpected arguments")
  }

  /** a reply field as the daemon prints it: `%f` for the probability */
  private def field(v: Any): String = v match {
    case p: Double => String.format(Locale.ROOT, "%f", Double.box(p))
    case x => x.toString
  }

  private def listCmd(args: List[String]): String = args match {
    case _ :: _ :: _ => clientErr("Unexpected arguments")
    case _ =>
      val prefix = args.headOption.getOrElse("")
      "START\n" + catalog.list(prefix).map(_.productIterator.map(field).mkString("", " ", "\n")).mkString +
        "END\n"
  }

  private def infoCmd(args: List[String]): String = args match {
    case Nil => clientErr("Must provide filter name")
    case _ :: _ :: _ => clientErr("Unexpected arguments")
    case name :: Nil => catalog.info(name) match {
      case Left(err) => err + "\n"
      case Right(i) =>
        "START\n" + i.productElementNames.zip(i.productIterator)
          .map { case (k, v) => s"$k ${field(v)}\n" }.mkString + "END\n"
    }
  }
}
